package graft.operators

import graft.SparkSpec
import java.nio.file.Files

class TarShardsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    SparkSpec.tempDir("graft-tar").toString

  private val docs = Seq(
    (1L, "alpha body"), (2L, "beta"), (3L, "gamma content here"),
    (10L, "ten"), (25L, "twenty five"), (31L, "thirty one"))

  test("round-trip: every doc lands in its hash shard, sorted, bytes exact") {
    val dir = tmp()
    val df = docs.toDF("doc_id", "text")
      .selectExpr("doc_id", "CAST(text AS BINARY) AS content")
    val (nShards, totalBytes) =
      TarShards.exportTar(df, dir, "doc_id", "content", "txt", 4)
    assert(nShards >= 1 && totalBytes > 0)
    val all = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".tar")).sortBy(_.getName)
      .flatMap { f =>
        val shard = f.getName.stripPrefix("shard-").stripSuffix(".tar").toInt
        TarShards.tarEntries(Files.readAllBytes(f.toPath))
          .map { case (n, c) => (shard, n, new String(c, "UTF-8")) }
      }
    // completeness + payload fidelity
    assert(all.map(e => e._2 -> e._3).toMap ==
      docs.map { case (id, t) => s"$id.txt" -> t }.toMap)
    // shard = portableHash(key) mod n (the md5 convention)
    all.foreach { case (shard, name, _) =>
      val key = name.stripSuffix(".txt")
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(shard == (java.lang.Long.parseLong(hex.take(8), 16) % 4).toInt)
    }
    // in-shard order is key-string order
    all.groupBy(_._1).values.foreach { es =>
      val names = es.map(_._2).toSeq
      assert(names == names.sorted)
    }
  }

  test("re-export is byte-identical (pinned metadata, total order)") {
    val df = docs.toDF("doc_id", "text")
      .selectExpr("doc_id", "CAST(text AS BINARY) AS content")
    val d1 = tmp(); val d2 = tmp()
    TarShards.exportTar(df, d1, "doc_id", "content", "txt", 3)
    TarShards.exportTar(df.repartition(5), d2, "doc_id", "content", "txt", 3)
    val f1 = new java.io.File(d1).listFiles().filter(_.getName.endsWith(".tar"))
      .sortBy(_.getName)
    val f2 = new java.io.File(d2).listFiles().filter(_.getName.endsWith(".tar"))
      .sortBy(_.getName)
    assert(f1.map(_.getName).toSeq == f2.map(_.getName).toSeq)
    f1.zip(f2).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(Files.readAllBytes(a.toPath),
        Files.readAllBytes(b.toPath)), a.getName)
    }
  }

  test("shards are valid archives for system tar (when available)") {
    val dir = tmp()
    val df = docs.toDF("doc_id", "text")
      .selectExpr("doc_id", "CAST(text AS BINARY) AS content")
    TarShards.exportTar(df, dir, "doc_id", "content", "txt", 2)
    val tarBin = Seq("/bin/tar", "/usr/bin/tar").find(new java.io.File(_).exists())
    tarBin match {
      case None => info("system tar not present; structural check covered above")
      case Some(t) =>
        new java.io.File(dir).listFiles().filter(_.getName.endsWith(".tar"))
          .foreach { f =>
            val p = new ProcessBuilder(t, "tf", f.getAbsolutePath)
              .redirectErrorStream(true).start()
            val outBytes = p.getInputStream.readAllBytes()
            assert(p.waitFor() == 0,
              s"tar rejected ${f.getName}: ${new String(outBytes, "UTF-8")}")
            val listed = new String(outBytes, "UTF-8").trim.split("\n").toSet
            val want = TarShards.tarEntries(Files.readAllBytes(f.toPath))
              .map(_._1).toSet
            assert(listed == want)
          }
    }
  }

  test("manifest lists every shard with its size") {
    val dir = tmp()
    val df = docs.toDF("doc_id", "text")
      .selectExpr("doc_id", "CAST(text AS BINARY) AS content")
    TarShards.exportTar(df, dir, "doc_id", "content", "txt", 2)
    val manifest = new String(Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_manifest.json")), "UTF-8")
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".tar"))
      .foreach { f =>
        assert(manifest.contains(f.getName))
        assert(manifest.contains(s""""bytes": ${f.length()}"""))
      }
  }
}
