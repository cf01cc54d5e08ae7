package graft

import graft.functions.{Bitmap64, Bitmap64Buffer}
import graft.sources.GraftTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §2.1 S26d: rbm64 exact id-set merge-engine columns (ref:
  * Paimon's rbm64 aggregate-function). */
class Bitmap64Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("S26d-a: serialization round-trips, including negative and extreme ids") {
    val ids = Seq(Long.MinValue, -17L, 0L, 1L, 2L, 1000000007L, Long.MaxValue)
    val b = new Bitmap64Buffer
    ids.foreach(b.add)
    b.add(1L) // duplicate: a set
    val back = Bitmap64.deserialize(Bitmap64.serialize(b))
    assert(back.sortedIds.toSeq == ids.sorted)
    // deterministic: equal sets = equal bytes regardless of insert order
    val b2 = new Bitmap64Buffer
    ids.reverse.foreach(b2.add)
    assert(Bitmap64.serialize(b2).toSeq == Bitmap64.serialize(b).toSeq)
  }

  test("S26d-b: mergeBytes is an exact union; empty is the identity") {
    def bm(ids: Long*): Array[Byte] = {
      val b = new Bitmap64Buffer; ids.foreach(b.add); Bitmap64.serialize(b)
    }
    val u = Bitmap64.mergeBytes(bm(1, 2, 3), bm(3, 4))
    assert(Bitmap64.deserialize(u).sortedIds.toSeq == Seq(1L, 2L, 3L, 4L))
    assert(Bitmap64.deserialize(Bitmap64.mergeBytes(bm(), bm(5))).sortedIds.toSeq == Seq(5L))
  }

  test("S26d-c: state/merge/cardinality aggregates over a DataFrame") {
    val df = Seq(("a", 1L), ("a", 2L), ("a", 1L), ("b", 7L)).toDF("g", "id")
    val st = df.groupBy("g").agg(Bitmap64.rbmState(col("id")).as("bm"))
    val n = st.select(col("g"), Bitmap64.rbmCardinality(col("bm")).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(n == Seq(("a", 2L), ("b", 1L)))
    // re-merge of stored bitmaps == one-pass build
    val merged = st.agg(Bitmap64.rbmMerge(col("bm")).as("all"))
      .select(Bitmap64.rbmCardinality(col("all"))).first().getLong(0)
    assert(merged == 3L)
  }

  test("S26d-d: engine-folded rbm64 column — two-path parity and -D reset") {
    // build bitmap rows via the state aggregate
    def rows(pairs: Seq[(String, Seq[Long])]) = pairs
      .flatMap { case (k, ids) => ids.map(k -> _) }
      .toDF("k", "id")
      .groupBy("k").agg(Bitmap64.rbmState(col("id")).as("bm"))
    val h1 = rows(Seq("g1" -> Seq(1L, 2L), "g2" -> Seq(9L)))
    val t = GraftTable.create(spark, TestSpark.tmpDir("rbm-engine"), h1.schema,
      primaryKeys = Seq("k"),
      options = Map("merge-engine" -> "aggregation",
        "fields.bm.aggregate-function" -> "rbm64_merge"))
    t.upsert(h1)
    t.upsert(rows(Seq("g1" -> Seq(2L, 3L), "g2" -> Seq(10L))))
    def card(df: org.apache.spark.sql.DataFrame) = df
      .select(col("k"), Bitmap64.rbmCardinality(col("bm")).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    // V2 in-scan fold
    assert(card(t.read()) == Seq(("g1", 3L), ("g2", 2L)))
    // a pruned library read pins the same fold to its planned files
    assert(card(t.read(dataFilters =
      Seq(org.apache.spark.sql.sources.IsNotNull("k")))) == Seq(("g1", 3L), ("g2", 2L)))
    // -D resets the folded set
    t.delete(Seq(("g1", Array.empty[Byte])).toDF("k", "bm"))
    t.upsert(rows(Seq("g1" -> Seq(42L))))
    assert(card(t.read()) == Seq(("g1", 1L), ("g2", 2L)))
  }
}
