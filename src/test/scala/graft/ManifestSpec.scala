package graft

import graft.sources.GraftTable
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** Delta-manifest snapshot chains: commits write O(delta) metadata, the
  * chain folds past manifest.merge-min-count, expiry reclaims orphan
  * manifests, and a pre-manifest (inline `files`) snapshot is refused
  * rather than read as an empty table. */
class ManifestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def snapJson(path: String, id: Long): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, "snapshot", s"snap-$id.json")), "UTF-8")

  test("M1: each commit adds ONE delta manifest; the chain folds at merge-min-count") {
    val path = TestSpark.tmpDir("mf1")
    val t = GraftTable.create(spark, path,
      new StructType().add("k", "int"),
      options = Map("manifest.merge-min-count" -> "3"))
    t.append(Seq(1).toDF("k"))
    t.append(Seq(2).toDF("k"))
    assert(t.system("manifests").count() == 2) // one delta per commit
    t.append(Seq(3).toDF("k")) // chain reaches 3 → folds to one base
    assert(t.system("manifests").count() == 1)
    assert(spark.read.format("graft").load(path).count() == 3) // fold lost nothing
    // commit metadata is O(delta): snapshot JSON carries names, not files
    assert(snapJson(path, 3).contains("\"manifests\""))
    assert(!snapJson(path, 3).contains("\"path\""))
  }

  test("M2: overwrite records DELETE entries in its delta manifest") {
    val path = TestSpark.tmpDir("mf2")
    val t = GraftTable.create(spark, path,
      new StructType().add("pt", "string").add("x", "int"),
      partitionKeys = Seq("pt"))
    t.append(Seq(("a", 1), ("b", 2)).toDF("pt", "x"))
    t.overwritePartitions(Seq(("a", 9)).toDF("pt", "x"))
    val m = t.system("manifests").collect()
      .map(r => (r.getLong(1), r.getLong(2))) // (adds, deletes)
    assert(m.exists { case (_, dels) => dels > 0 }, s"no DELETE entries in ${m.toSeq}")
    val rows = spark.read.format("graft").load(path).collect()
      .map(r => (r.getString(0), r.getInt(1))).sortBy(_._1)
    assert(rows.toSeq == Seq(("a", 9), ("b", 2)))
  }

  test("M3: snapshot expiry deletes manifests referenced only by expired snapshots") {
    val path = TestSpark.tmpDir("mf3")
    val t = GraftTable.create(spark, path, new StructType().add("k", "int"))
    (1 to 4).foreach(i => t.append(Seq(i).toDF("k")))
    val manifestDir = new java.io.File(path, "manifest")
    val before = manifestDir.list().length
    t.expireSnapshots(retainLast = 1)
    // the retained chain's manifests survive; nothing the live set needs is gone
    assert(manifestDir.list().length <= before)
    assert(spark.read.format("graft").load(path).count() == 4)
    // expired snapshots are unreadable, their exclusive manifests deleted
    intercept[Exception] { t.readIncrement(0, 1) }
  }

  test("M5: a pre-manifest inline-files snapshot fails to load instead of reading as empty") {
    val path = TestSpark.tmpDir("mf4")
    val t = GraftTable.create(spark, path, new StructType().add("k", "int"))
    t.append(Seq(1, 2).toDF("k"))
    // rewrite snap-1 into the pre-manifest format: inline `files`, no chain
    val snapPath = java.nio.file.Paths.get(path, "snapshot", "snap-1.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(java.nio.file.Files.readAllBytes(snapPath))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val mfName = node.get("manifests").get(0).asText()
    val entries = mapper.readTree(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path, "manifest", mfName)))
    val files = mapper.createArrayNode()
    entries.forEach(e => files.add(e.get("file")))
    node.remove("manifests"); node.set("files", files)
    java.nio.file.Files.write(snapPath, mapper.writeValueAsBytes(node))
    // raw rewrite bypassed Hadoop's checksummed FS: drop the stale .crc sidecar
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(path, "snapshot", ".snap-1.json.crc"))

    val t2 = GraftTable.load(spark, path) // fresh instance: no caches
    val e = intercept[Exception](t2.read().count())
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Seq.empty else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    assert(msgs(e).exists(_.contains("\"files\"")),
      s"expected the unknown `files` field to be named, got: ${msgs(e)}")
  }
}
