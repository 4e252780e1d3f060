package graft.sources

import com.fasterxml.jackson.core.{JsonFactory, JsonToken}
import org.apache.hadoop.fs.{FileSystem, Path}
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
  * and edges with or without the `node` wrapper. One directory may mix
  * shapes: each file is read with its own.
  *
  * Returns one row per node with the declared node schema plus lineage
  * columns (`_source_file`, and envelope metadata when present). Schema
  * is always explicit — no JSON inference on production paths.
  */
object RawReader {
  private sealed trait Shape
  private case object Envelope extends Shape
  private case object Nested extends Shape
  private case object Bare extends Shape

  private def unwrapEdge(node: StructType): Column = {
    val e = col("edge")
    val topLevel = struct(node.fieldNames.map(n => e.getField(n).as(n)).toSeq: _*)
    when(e.getField("node").isNotNull, e.getField("node")).otherwise(topLevel)
  }

  /** Reads every bronze file under `path` (a file, a directory or a
    * glob) with its shape, chosen on the driver by [[shapeOf]]: no Spark
    * job runs until the returned frame is used. */
  def readJson(spark: SparkSession, node: StructType, entity: String, path: String): DataFrame = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = Option(fs.globStatus(root)).toSeq.flatten.flatMap { s =>
      if (!s.isDirectory) Seq(s.getPath)
      else fs.listStatus(s.getPath).filter(_.isFile).map(_.getPath)
        .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
    }
    val byShape = files.groupBy(shapeOf(fs, _))
    val frames = Seq(Envelope, Nested, Bare).flatMap(s =>
      byShape.get(s).map(ps => read(spark, node, entity, s, ps.map(_.toString))))
    // no file: an empty frame, or Spark's own error for a missing path
    if (frames.isEmpty) read(spark, node, entity, Envelope, Seq(path))
    else frames.reduce(_.unionByName(_))
  }

  /** A file's shape from its leading JSON tokens: a top-level array is a
    * bare edge list; in an object, `data` holding an object is the raw
    * GraphQL response, anything else (an array, null, absent) the
    * envelope. The scan stops at `data`'s first token, so an envelope
    * costs only its small `metadata` block; a file that is not JSON up
    * to that point fails the read. */
  private def shapeOf(fs: FileSystem, file: Path): Shape = {
    val p = new JsonFactory().createParser(fs.open(file): java.io.InputStream)
    try p.nextToken() match {
      case JsonToken.START_ARRAY => Bare
      case JsonToken.START_OBJECT =>
        var shape: Option[Shape] = None
        while (shape.isEmpty && p.nextToken() == JsonToken.FIELD_NAME)
          if (p.currentName == "data")
            shape = Some(if (p.nextToken() == JsonToken.START_OBJECT) Nested else Envelope)
          else { p.nextToken(); p.skipChildren() }
        shape.getOrElse(Envelope)
      case _ => Envelope
    } finally p.close()
  }

  private def read(spark: SparkSession, node: StructType, entity: String, shape: Shape,
                   paths: Seq[String]): DataFrame = {
    def json(schema: StructType) = spark.read.option("multiLine", "true")
      .schema(schema).json(paths: _*)
      .withColumn("_source_file", input_file_name())
    shape match {
      case Envelope => nodes(json(Schemas.envelope(node)), node, explode(col("data")))
      case Nested => nodes(json(Schemas.envelopeNested(node, entity)), node,
        explode(col(s"data.$entity.edges")))
      case Bare =>
        // Spark maps each top-level array element to a row
        val edge = Schemas.edge(node)
        nodes(json(edge).withColumn("metadata", lit(null).cast(Schemas.envelopeMetadata)),
          node, struct(edge.fieldNames.map(col).toSeq: _*))
    }
  }

  private def nodes(df: DataFrame, node: StructType, edge: Column): DataFrame =
    df.select(col("metadata"), col("_source_file"), edge.as("edge"))
      .select(unwrapEdge(node).as("node"), col("metadata"), col("_source_file"))
      .select(col("node.*"), col("metadata"), col("_source_file"))
}
