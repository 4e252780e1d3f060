package graft.sources

import graft.{Fixtures, SparkSpec}
import graft.model.Schemas

class RawReaderSpec extends SparkSpec {
  import spark.implicits._

  test("envelope variant 1: {metadata, data:[{node}...]}") {
    val path = Fixtures.writeTemp(
      Fixtures.envelope(Seq(Fixtures.customerNode), "retail", "customers"), "c.json")
    val df = RawReader.readJson(spark, Schemas.customerNode, "customers", path)
    assert(df.count() == 1)
    assert(df.select("id").as[String].head() == "gid://shopify/Customer/777")
    assert(df.select("metadata.store_type").as[String].head() == "retail")
  }

  test("envelope variant 2: {data: {entity: {edges}}}") {
    val path = Fixtures.writeTemp(
      Fixtures.envelopeNested(Seq(Fixtures.customerNode, Fixtures.customerNodeSparse), "customers"),
      "c.json")
    val df = RawReader.readJson(spark, Schemas.customerNode, "customers", path)
    assert(df.count() == 2)
  }

  test("bare list of nodes (edges without node wrapper)") {
    val path = Fixtures.writeTemp(Fixtures.bareList(Seq(Fixtures.productNode)), "p.json")
    val df = RawReader.readJson(spark, Schemas.productNode, "products", path)
    assert(df.count() == 1)
    assert(df.select("title").as[String].head() == "Widget")
  }

  test("mixed edges: some with node wrapper, some without") {
    val mixed = s"""[{"node": ${Fixtures.customerNode}}, ${Fixtures.customerNodeSparse}]"""
    val path = Fixtures.writeTemp(mixed, "m.json")
    val df = RawReader.readJson(spark, Schemas.customerNode, "customers", path)
    assert(df.select("id").as[String].collect().toSet ==
      Set("gid://shopify/Customer/777", "gid://shopify/Customer/778"))
  }

  test("one directory mixing shapes: every file's nodes are read") {
    val dir = SparkSpec.tempDir("graft-mixed")
    java.nio.file.Files.writeString(dir.resolve("a.json"),
      Fixtures.envelope(Seq(Fixtures.customerNode), "retail", "customers"))
    java.nio.file.Files.writeString(dir.resolve("b.json"),
      Fixtures.envelopeNested(Seq(Fixtures.customerNodeSparse), "customers"))
    val df = RawReader.readJson(spark, Schemas.customerNode, "customers", dir.toString)
    assert(df.select("id").as[String].collect().toSet ==
      Set("gid://shopify/Customer/777", "gid://shopify/Customer/778"))
  }
}
