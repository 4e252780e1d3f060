package graft

import org.apache.spark.sql.SparkSession

/** Loaders for the generated synthetic tables (TESTDATA.md). */
object Tables {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.types._
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def integral(t: DataType) = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }
  private def numeric(t: DataType) = t match {
    case ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | _: DecimalType => true
    case _ => false
  }
  private def text(t: DataType) = t == StringType
  private def temporal(t: DataType) =
    t == TimestampType || t == TimestampNTZType || t == DateType
  private def floatArray(t: DataType) = t match {
    case ArrayType(e, _) => e == FloatType || e == DoubleType
    case _ => false
  }

  /** The column/type CLASS contract each query tier assumes per table,
    * validated on every read (schema-only — no data scan). The testdata
    * generator rewrites the tables between rounds and has already changed a
    * physical layout once (events.ts: raw INT64 nanos → logical
    * TIMESTAMP_MICROS), which silently wrong-answered 12 queries — a
    * contract violation must fail LOUD with the observed schema, never
    * return plausible rows. */
  private val contracts: Map[String, Seq[(String, DataType => Boolean)]] = Map(
    "region"   -> Seq("r_regionkey" -> integral _, "r_name" -> text _),
    "nation"   -> Seq("n_nationkey" -> integral _, "n_regionkey" -> integral _,
      "n_name" -> text _),
    "customer" -> Seq("c_custkey" -> integral _, "c_nationkey" -> integral _,
      "c_mktsegment" -> text _, "c_acctbal" -> numeric _),
    "supplier" -> Seq("s_suppkey" -> integral _, "s_nationkey" -> integral _),
    "part"     -> Seq("p_partkey" -> integral _, "p_retailprice" -> numeric _,
      "p_size" -> integral _),
    "orders"   -> Seq("o_orderkey" -> integral _, "o_custkey" -> integral _,
      "o_totalprice" -> numeric _, "o_orderdate" -> temporal _,
      "o_orderstatus" -> text _),
    "lineitem" -> Seq("l_orderkey" -> integral _, "l_partkey" -> integral _,
      "l_suppkey" -> integral _, "l_quantity" -> numeric _,
      "l_extendedprice" -> numeric _, "l_discount" -> numeric _,
      "l_shipdate" -> temporal _, "l_returnflag" -> text _),
    "events"   -> Seq("event_id" -> integral _, "ts" -> temporal _,
      "user_id" -> integral _, "event_type" -> text _, "value" -> numeric _),
    "documents" -> Seq("doc_id" -> integral _, "text" -> text _,
      "lang" -> text _, "source" -> text _),
    "embeddings" -> Seq("vec_id" -> integral _, "embedding" -> floatArray _,
      "label" -> integral _))

  private[graft] def validate(df: DataFrame, name: String): DataFrame = {
    val schema = df.schema
    contracts.getOrElse(name, Seq.empty).foreach { case (c, ok) =>
      schema.find(_.name == c) match {
        case None => throw new IllegalStateException(
          s"testdata contract violation: $name lacks column '$c'; observed " +
            s"schema ${schema.simpleString} — the generator rewrote the " +
            "table with a new layout; update Tables.contracts + readers")
        case Some(f) if !ok(f.dataType) => throw new IllegalStateException(
          s"testdata contract violation: $name.$c has type " +
            s"${f.dataType.simpleString} — incompatible with what the query " +
            "tiers assume; update the reader before trusting any result")
        case _ => ()
      }
    }
    df
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = validate(
    // events.parquet's ts encoding has changed across testdata versions
    // (raw INT64 nanos vs logical TIMESTAMP_MICROS) — route through
    // the layout-probing reader so either decodes to true timestamps
    if (name == "events") graft.queries.EtlQueries.events(spark, dir)
    else spark.read.parquet(s"$dir/$name.parquet"),
    name)
}
