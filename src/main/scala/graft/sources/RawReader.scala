package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.model.Schemas

/** Bronze-zone reader (SURVEY §2.1 S6–S7).
  *
  * Accepts all raw shapes the reference's loaders tolerate
  * (incremental_loaders.py:115-126):
  *   1. `{metadata:{...}, data:[{node:{...}}, ...]}` — extractor envelope
  *   2. `{data: {<entity>: {edges: [...]}}}`         — raw GraphQL response
  *   3. `[{node:{...}}, ...]`                        — bare edge list
  * and edges with or without the `node` wrapper.
  *
  * Returns one row per node with the declared node schema plus lineage
  * columns (`_source_file`, and envelope metadata when present). Schema
  * is always explicit — no JSON inference on production paths.
  */
object RawReader {

  private def unwrapEdge(node: StructType): Column = {
    val e = col("edge")
    val topLevel = struct(node.fieldNames.map(n => e.getField(n).as(n)).toSeq: _*)
    when(e.getField("node").isNotNull, e.getField("node")).otherwise(topLevel)
  }

  /** Shape-probing envelope reader. Probes cheaply (one row) per path
    * batch — bronze files are small per batch; the heavy lifting stays
    * distributed. */
  def readJson(spark: SparkSession, node: StructType, entity: String, path: String): DataFrame = {
    val env = spark.read.option("multiLine", "true")
      .schema(Schemas.envelope(node)).json(path)
      .withColumn("_source_file", input_file_name())

    val hasFlat = env.select(col("data")).where(col("data").isNotNull).limit(1).count() > 0
    if (hasFlat) return explodeEdges(env, node, col("data"))

    val nested = spark.read.option("multiLine", "true")
      .schema(Schemas.envelopeNested(node, entity)).json(path)
      .withColumn("_source_file", input_file_name())
    val hasNested = nested
      .select(col(s"data.$entity.edges").as("edges"))
      .where(col("edges").isNotNull).limit(1).count() > 0
    if (hasNested) return explodeEdges(nested, node, col(s"data.$entity.edges"))

    // bare top-level list: Spark maps each array element to a row
    val bare = spark.read.option("multiLine", "true")
      .schema(Schemas.edge(node)).json(path)
      .withColumn("_source_file", input_file_name())
    bare.select(
      when(col("node").isNotNull, col("node"))
        .otherwise(struct(node.fieldNames.map(col).toSeq: _*)).as("node"),
      lit(null).cast(Schemas.envelopeMetadata).as("metadata"),
      col("_source_file"))
      .select(col("node.*"), col("metadata"), col("_source_file"))
  }

  private def explodeEdges(env: DataFrame, node: StructType, edges: Column): DataFrame =
    env.select(col("metadata"), col("_source_file"), explode(edges).as("edge"))
      .select(unwrapEdge(node).as("node"), col("metadata"), col("_source_file"))
      .select(col("node.*"), col("metadata"), col("_source_file"))
}
