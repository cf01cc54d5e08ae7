package graft

import graft.sources.GraftTable
import graft.sources.ScanTestAccess.plainRows
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §2.1 S65 — delta row-level operations on row-tracking tables
  * (the lift of S64's one refusal): SQL UPDATE / MERGE / DELETE run
  * MERGE-ON-READ — deletes become deletion-vector positions on the
  * source files, updates append id-materialized rows with a bumped
  * `_sequence_number`, inserts take fresh commit-assigned ids. Also the
  * lineage METADATA COLUMNS (`_row_id`, `_sequence_number`, `_pos`,
  * with S44's `_file`) — the SQL twin of readWithLineage, checked
  * against lineage derived from plain parquet where no generated
  * expectation pins it. */
class RowLevelDeltaSpec extends AnyFunSuite {
  lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.gdelta", "graft.sources.GraftSparkCatalog")
    s.conf.set("spark.sql.catalog.gdelta.warehouse", TestSpark.tmpDir("gdelta-wh"))
    s.sql("CREATE NAMESPACE IF NOT EXISTS gdelta.db")
    s
  }
  import spark.implicits._

  private def sql(q: String) = spark.sql(q)
  private var n = 0
  /** A registered row-tracking table seeded with two single-file commits
    * (ids 0-4: k=0..4 seq 1, ids 5-7: k=5..7 seq 2); returns (name, table). */
  private def mkSql(extra: String = ""): (String, GraftTable) = {
    n += 1
    val name = s"gdelta.db.t$n"
    sql(s"""CREATE TABLE $name (k BIGINT, v STRING)
           |TBLPROPERTIES ('row-tracking.enabled'='true'$extra)""".stripMargin)
    val root = spark.conf.get("spark.sql.catalog.gdelta.warehouse") + s"/db.db/t$n"
    val t = GraftTable.load(spark, root)
    t.append((0L to 4L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1))
    t.append((5L to 7L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1))
    (name, t)
  }

  private def lineageSql(name: String): Seq[(Long, String, Long, Long)] =
    sql(s"SELECT k, v, _row_id, _sequence_number FROM $name").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._3).toSeq

  /** (k, v, _row_id, _sequence_number) of `t` derived from plain parquet
    * (`_metadata.row_index` and the stored lineage columns), by id. */
  private def lineagePlain(t: GraftTable, snap: Option[Long] = None)
      : Seq[(Long, String, Long, Long)] =
    plainRows(t, snap, lineage = true).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._3).toSeq

  test("S65a: lineage metadata columns match plain parquet through dv + compact") {
    val (name, t) = mkSql(extra = ", 'deletion-vectors.enabled'='true'")
    t.dvDelete(col("k") === 1L) // positional vintage + a dv mask
    t.compact() // materialized vintage (stored __row_id/__row_seq)
    t.append(Seq((8L, "v8")).toDF("k", "v").coalesce(1)) // positional again
    val viaSql = lineageSql(name)
    val plain = lineagePlain(t)
    assert(viaSql == plain, s"SQL $viaSql != plain parquet $plain")
    assert(viaSql.map(_._3) == Seq(0L, 2L, 3L, 4L, 5L, 6L, 7L, 8L))
    // _pos and _file: physical positions within the named file
    val posFile = sql(s"SELECT _file, _pos, _row_id FROM $name ORDER BY _row_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(posFile.forall(_._1.startsWith("data/")))
    // positions are dense per file starting at 0 (physical order)
    posFile.groupBy(_._1).values.foreach { grp =>
      assert(grp.map(_._2).sorted.toSeq == grp.indices.map(_.toLong),
        s"positions not dense: ${grp.toSeq}")
    }
  }

  test("S65b: UPDATE preserves _row_id, bumps _sequence_number, rewrites no group") {
    val (name, t) = mkSql()
    val before = lineageSql(name)
    val filesBefore = t.system("files")
      .select("file_path").collect().map(_.getString(0)).toSet
    sql(s"UPDATE $name SET v = concat(v, '!') WHERE k % 3 = 1") // k=1,4,7
    val after = lineageSql(name)
    assert(after.map(r => (r._1, r._3)) == before.map(r => (r._1, r._3)),
      "UPDATE renumbered rows")
    after.foreach { case (k, v, _, seq) =>
      if (k % 3 == 1) { assert(v == s"v$k!"); assert(seq == 3L, s"k=$k seq=$seq") }
      else { assert(v == s"v$k"); assert(seq == (if (k <= 4) 1L else 2L)) }
    }
    // MOR shape: both original files still live (now dv-masked), ONE new
    // lineage file holds exactly the 3 rewritten rows — no group rewrite
    val files = t.system("files")
      .select("file_path", "record_count", "delete_row_count", "compacted").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val olds = files.filter(f => filesBefore(f._1))
    val news = files.filterNot(f => filesBefore(f._1))
    assert(olds.length == 2 && olds.map(_._3).sorted.toSeq == Seq(1L, 2L),
      s"originals must survive dv-masked: ${files.toSeq}")
    // (one rewrite file per scan task that held matches — 2 here)
    assert(news.nonEmpty && news.map(_._2).sum == 3L && news.forall(_._4),
      s"compacted-flagged rewrite files holding exactly the 3 updated " +
        s"rows expected: ${files.toSeq}")
    // id uniqueness held
    assert(after.map(_._3).distinct.length == after.length)
  }

  test("S65c: DELETE with an untranslatable predicate runs the delta path; survivors stable") {
    val (name, t) = mkSql()
    val before = lineageSql(name)
    sql(s"DELETE FROM $name WHERE k % 2 = 0") // modulo: no V1 filter, no tombstone path
    val after = lineageSql(name)
    assert(after.map(_._1) == before.map(_._1).filter(_ % 2 != 0))
    after.foreach { case (k, _, rid, seq) =>
      val b = before.find(_._1 == k).get
      assert(rid == b._3 && seq == b._4, s"survivor $k changed lineage")
    }
    // no data file was written — deletes are pure dv metadata
    assert(t.system("files").select("file_path").collect().length == 2)
  }

  test("S65d: MERGE — matched update keeps ids, matched delete removes, insert mints fresh") {
    val (name, t) = mkSql()
    val before = lineageSql(name).map(r => r._1 -> r._3).toMap
    Seq((1L, "one"), (4L, "DEL"), (9L, "nine"), (10L, "ten"))
      .toDF("k", "v").createOrReplaceTempView("src65d")
    sql(s"""MERGE INTO $name t USING src65d s ON t.k = s.k
           |WHEN MATCHED AND s.v = 'DEL' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET t.v = s.v
           |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    val after = lineageSql(name)
    assert(after.map(_._1).sorted == Seq(0L, 1L, 2L, 3L, 5L, 6L, 7L, 9L, 10L))
    // updated row: same id, new seq, new value
    val u = after.find(_._1 == 1L).get
    assert(u._2 == "one" && u._3 == before(1L) && u._4 == 3L)
    // carried rows: identical lineage
    after.filter(r => r._1 != 1L && r._1 < 9L).foreach { case (k, v, rid, _) =>
      assert(rid == before(k) && v == s"v$k")
    }
    // inserted rows: fresh ids continuing the counter (8 rows existed →
    // next ids 8, 9), seq = the committing snapshot
    val ins = after.filter(_._1 >= 9L)
    assert(ins.map(_._3).sorted == Seq(8L, 9L), s"fresh ids wrong: $ins")
    assert(ins.forall(_._4 == 3L))
    assert(Option(t.snapshots.last.nextRowId).map(_.longValue).contains(10L))
    // id uniqueness across the whole table
    assert(after.map(_._3).distinct.length == after.length)
  }

  test("S65e: UPDATE over a compacted (id-materialized) vintage preserves stored ids") {
    val (name, t) = mkSql()
    t.compact()
    val before = lineageSql(name)
    sql(s"UPDATE $name SET v = 'X' WHERE k = 6")
    val after = lineageSql(name)
    assert(after.map(r => (r._1, r._3)) == before.map(r => (r._1, r._3)))
    assert(after.find(_._1 == 6L).get._2 == "X")
    assert(after.find(_._1 == 6L).get._4 == 4L) // compact was snapshot 3
    // a second update of the SAME row through its rewritten (lineage
    //-materialized, dv-maskable) file still holds the id
    sql(s"UPDATE $name SET v = 'Y' WHERE k = 6")
    val again = lineageSql(name)
    assert(again.map(r => (r._1, r._3)) == before.map(r => (r._1, r._3)))
    assert(again.find(_._1 == 6L).get._2 == "Y")
  }

  test("S65f: time travel and rollback see pre-op lineage; ids never reused") {
    val (name, t) = mkSql()
    val pre = lineageSql(name)
    sql(s"DELETE FROM $name WHERE k % 2 = 0")
    sql(s"UPDATE $name SET v = 'u' WHERE k = 1")
    val preTravel = t.readWithLineage(Some(2L)).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).sortBy(_._3).toSeq
    assert(pre == lineagePlain(t, Some(2L)))
    assert(preTravel == pre, "time travel must replay the pre-op lineage")
    t.rollbackTo(2L)
    assert(lineageSql(name) == pre)
    // post-rollback appends continue the counter — no id reuse ever
    t.append(Seq((99L, "z")).toDF("k", "v").coalesce(1))
    val ids = lineageSql(name).map(_._3)
    assert(ids.max == 8L && ids.distinct.length == ids.length)
  }

  test("S65h: plain deletion-vectors append tables (no tracking) take the " +
    "delta path too — UPDATE/MERGE touch only changed rows") {
    n += 1
    val name = s"gdelta.db.t$n"
    sql(s"""CREATE TABLE $name (k BIGINT, v STRING)
           |TBLPROPERTIES ('deletion-vectors.enabled'='true')""".stripMargin)
    sql(s"INSERT INTO $name SELECT id, concat('v', id) FROM range(0, 100)")
    val root = spark.conf.get("spark.sql.catalog.gdelta.warehouse") + s"/db.db/t$n"
    val t = GraftTable.load(spark, root)
    val filesBefore = t.system("files")
      .select("file_path").collect().map(_.getString(0)).toSet
    sql(s"UPDATE $name SET v = 'u' WHERE k % 10 = 7") // 10 of 100 rows
    val files = t.system("files")
      .select("file_path", "record_count", "delete_row_count").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val olds = files.filter(f => filesBefore(f._1))
    val news = files.filterNot(f => filesBefore(f._1))
    assert(olds.map(_._1).toSet == filesBefore,
      s"originals must survive dv-masked, not be rewritten: ${files.toSeq}")
    assert(olds.map(_._3).sum == 10L && news.map(_._2).sum == 10L,
      s"exactly the 10 changed rows move: ${files.toSeq}")
    assert(sql(s"SELECT count(*) FROM $name WHERE v = 'u'").first().getLong(0) == 10L)
    assert(sql(s"SELECT count(*) FROM $name").first().getLong(0) == 100L)
    // MERGE: update + insert through the same path
    sql(s"SELECT id AS k, 'm' AS v FROM range(95, 105)").createOrReplaceTempView("src65h")
    sql(s"""MERGE INTO $name t USING src65h s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET t.v = s.v
           |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    assert(sql(s"SELECT count(*) FROM $name").first().getLong(0) == 105L)
    assert(sql(s"SELECT count(*) FROM $name WHERE v = 'm'").first().getLong(0) == 10L)
    // untranslatable DELETE rides the delta path (dv metadata, no rewrite)
    val nFiles = t.system("files").collect().length
    sql(s"DELETE FROM $name WHERE k % 3 = 1 AND v != 'm'")
    assert(t.system("files").collect().length == nFiles, "delta DELETE writes no data file")
    assert(sql(s"SELECT count(*) FROM $name").first().getLong(0) ==
      (0L until 105L).count(k => !(k % 3 == 1 && !(k >= 95 && k < 105))))
  }

  test("S65i: a plain append table (no dv, no tracking) keeps the CoW rewrite") {
    n += 1
    val name = s"gdelta.db.t$n"
    sql(s"CREATE TABLE $name (k BIGINT, v STRING)")
    sql(s"INSERT INTO $name SELECT id, concat('v', id) FROM range(0, 10)")
    val root = spark.conf.get("spark.sql.catalog.gdelta.warehouse") + s"/db.db/t$n"
    val t = GraftTable.load(spark, root)
    val before = t.system("files").select("file_path").collect().map(_.getString(0)).toSet
    sql(s"UPDATE $name SET v = 'u' WHERE k = 3")
    val after = t.system("files").select("file_path", "delete_row_count").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // the scanned group was REPLACED (file-pruning may keep untouched
    // groups) and nothing was dv-masked — the CoW shape, not the delta's
    assert(after.exists(f => !before(f._1)) && !after.map(_._1).toSet.subsetOf(before) &&
      before.diff(after.map(_._1).toSet).nonEmpty,
      s"CoW must replace the scanned group: ${after.toSeq}")
    assert(after.forall(_._2 == 0L), "CoW writes no deletion vectors")
    assert(sql(s"SELECT v FROM $name WHERE k = 3").first().getString(0) == "u")
  }

  test("S65j: reserved lineage names — tracking tables refuse them, dv tables " +
    "with a shadowing column fall back to the CoW rewrite") {
    import org.apache.spark.sql.types._
    // a data column named _pos would shadow the delta row identity —
    // refused at CREATE (not on first use: that would brick the table)
    intercept[IllegalArgumentException](
      GraftTable.create(spark, TestSpark.tmpDir("rl-shadow"),
        StructType(Seq(StructField("_pos", LongType), StructField("v", StringType))),
        options = Map("row-tracking.enabled" -> "true")))
    // dv table with the same column: legal, but row-level ops must NOT
    // bind identity to it — the CoW rewrite handles them instead
    n += 1
    val name = s"gdelta.db.t$n"
    sql(s"""CREATE TABLE $name (`_pos` BIGINT, v STRING)
           |TBLPROPERTIES ('deletion-vectors.enabled'='true')""".stripMargin)
    sql(s"INSERT INTO $name SELECT id, concat('v', id) FROM range(0, 10)")
    val root = spark.conf.get("spark.sql.catalog.gdelta.warehouse") + s"/db.db/t$n"
    val t = GraftTable.load(spark, root)
    sql(s"UPDATE $name SET v = 'u' WHERE `_pos` = 3")
    assert(t.system("files").select("delete_row_count").collect()
      .forall(_.getLong(0) == 0L), "shadowed table must take CoW, not dv masking")
    assert(sql(s"SELECT v FROM $name WHERE `_pos` = 3").first().getString(0) == "u")
    assert(sql(s"SELECT count(*) FROM $name").first().getLong(0) == 10L)
    // Spark's shadowing is CASE-INSENSITIVE under the default resolver —
    // every guard must be too
    intercept[IllegalArgumentException](
      GraftTable.create(spark, TestSpark.tmpDir("rl-shadow-case"),
        StructType(Seq(StructField("_Row_Id", LongType), StructField("v", StringType))),
        options = Map("row-tracking.enabled" -> "true")))
    n += 1
    val cname = s"gdelta.db.t$n"
    sql(s"""CREATE TABLE $cname (`_POS` BIGINT, v STRING)
           |TBLPROPERTIES ('deletion-vectors.enabled'='true')""".stripMargin)
    sql(s"INSERT INTO $cname SELECT id, concat('v', id) FROM range(0, 5)")
    val ct = GraftTable.load(spark,
      spark.conf.get("spark.sql.catalog.gdelta.warehouse") + s"/db.db/t$n")
    sql(s"UPDATE $cname SET v = 'u' WHERE `_POS` = 2")
    assert(ct.system("files").select("delete_row_count").collect()
      .forall(_.getLong(0) == 0L), "case-variant shadow must also take CoW")
    assert(sql(s"SELECT v FROM $cname WHERE `_POS` = 2").first().getString(0) == "u")
    // ALTER may not introduce a reserved name on a live tracking table —
    // rejected up front, table stays fully usable afterwards
    val (tname, tt) = mkSql()
    intercept[IllegalArgumentException](tt.addColumn("_pos", LongType))
    intercept[IllegalArgumentException](tt.renameColumn("v", "_Sequence_Number"))
    // case-variant duplicates are refused (they'd make every reference
    // ambiguous under the default resolver); a case-ONLY rename of the
    // same column stays legal
    intercept[IllegalArgumentException](tt.addColumn("V", StringType))
    tt.renameColumn("v", "V")
    assert(sql(s"SELECT k, V, _row_id FROM $tname").collect().length == 8,
      "table must stay usable after rejected ALTERs and a case-only rename")
  }

  test("S65k: crashed-task partial dv sidecars are orphan-GC work; live " +
    "finals survive the sweep") {
    val (name, t) = mkSql()
    sql(s"UPDATE $name SET v = 'u' WHERE k % 2 = 0") // real dvs now live
    val before = lineageSql(name)
    // what a task that died after writing its partial (message lost)
    // leaves behind: an unreferenced sidecar under data/dv
    val conf = spark.sessionState.newHadoopConf()
    val stray = graft.sources.DeletionVector.write(conf, t.root, Array(0L, 1L))
    val swept = t.removeOrphanFiles(ttlMs = 0L)
    assert(swept.contains(stray), s"stray partial must be reclaimed: $swept")
    assert(lineageSql(name) == before, "live vectors must survive the sweep")
  }

  test("S65l: a delta commit racing a concurrent commit fails loudly and " +
    "leaves no trace") {
    val (name, t) = mkSql() // snapshots 1, 2
    val before = lineageSql(name)
    // the file the FIRST commit wrote (live at stale base 1 too)
    val victim = sql(s"SELECT _file FROM $name WHERE _row_id = 0").head.getString(0)
    val conf = spark.sessionState.newHadoopConf()
    val partial = graft.sources.DeletionVector.write(conf, t.root, Array(0L))
    // base = 1 is stale (snapshot 2 already exists): the optimistic
    // claim of snapshot 2 must fail the swap
    intercept[Exception](
      t.commitDelta(Seq.empty, Seq.empty, Seq((victim, partial, 1L)), base = 1L))
    assert(lineageSql(name) == before, "a lost race must not change state")
    // the losing partial is referenced by nothing — orphan GC reclaims it
    assert(t.removeOrphanFiles(ttlMs = 0L).contains(partial))
  }

  test("S65m: randomized append/UPDATE/DELETE/MERGE/compact/dvDelete sequences " +
    "never renumber, never reuse, and never resurrect a row id") {
    for (seed <- Seq(11, 42, 1337)) {
      val rnd = new scala.util.Random(seed)
      n += 1
      val name = s"gdelta.db.t$n"
      sql(s"""CREATE TABLE $name (k BIGINT, v STRING)
             |TBLPROPERTIES ('row-tracking.enabled'='true',
             |  'deletion-vectors.enabled'='true')""".stripMargin)
      val root = spark.conf.get("spark.sql.catalog.gdelta.warehouse") + s"/db.db/t$n"
      val t = GraftTable.load(spark, root)
      // model: rid -> (k, v); keys globally unique so k <-> rid is a bijection
      var model = Map.empty[Long, (Long, String)]
      var nextKey = 0L
      var nextId = 0L
      var maxIdSeen = -1L
      def keysOf(m: Int): Seq[Long] =
        rnd.shuffle(model.values.map(_._1).toSeq).take(m)
      def check(tag: String): Unit = {
        val got = sql(s"SELECT _row_id, k, v FROM $name").collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
        assert(got == model, s"seed=$seed after $tag:\n got=$got\n exp=$model")
        if (got.nonEmpty) maxIdSeen = math.max(maxIdSeen, got.keys.max)
      }
      // seed batch so every op has something to chew on
      def append(sz: Int): Unit = {
        val ks = (nextKey until nextKey + sz); nextKey += sz
        t.append(ks.map(k => (k, s"v$k")).toDF("k", "v")
          .repartition(1).sortWithinPartitions("k"))
        ks.zipWithIndex.foreach { case (k, i) => model += (nextId + i) -> ((k, s"v$k")) }
        nextId += sz
      }
      append(8)
      for (step <- 1 to 14) {
        rnd.nextInt(6) match {
          case 0 => append(1 + rnd.nextInt(5))
          case 1 if model.nonEmpty => // delta UPDATE (modulo keeps it off tombstones)
            val ks = keysOf(1 + rnd.nextInt(3))
            sql(s"UPDATE $name SET v = concat(v, '+') WHERE k IN (${ks.mkString(",")}) " +
              "AND (k % 2 = 0 OR k % 2 = 1)")
            model = model.map { case (rid, (k, v)) =>
              rid -> ((k, if (ks.contains(k)) v + "+" else v))
            }
          case 2 if model.nonEmpty => // DELETE, alternating tombstone/delta routing
            val ks = keysOf(1 + rnd.nextInt(3))
            val residual = if (step % 2 == 0) " AND (k % 2 = 0 OR k % 2 = 1)" else ""
            sql(s"DELETE FROM $name WHERE k IN (${ks.mkString(",")})$residual")
            model = model.filterNot { case (_, (k, _)) => ks.contains(k) }
          case 3 if model.nonEmpty => // MERGE: updates + fresh-key inserts
            val upd = keysOf(1 + rnd.nextInt(2))
            val ins = (nextKey until nextKey + 1 + rnd.nextInt(2)); nextKey = ins.end
            (upd.map(k => (k, "m")) ++ ins.map(k => (k, s"i$k")))
              .toDF("k", "v").createOrReplaceTempView("fuzz_src")
            sql(s"""MERGE INTO $name t USING fuzz_src s ON t.k = s.k
                   |WHEN MATCHED THEN UPDATE SET t.v = s.v
                   |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
            model = model.map { case (rid, (k, v)) =>
              rid -> ((k, if (upd.contains(k)) "m" else v))
            }
            // inserted ids are task-order-assigned: adopt from the table,
            // but they must be FRESH (never seen) and advance the counter
            // by exactly the insert count
            val got = sql(s"SELECT _row_id, k, v FROM $name WHERE k >= ${ins.start}")
              .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
            assert(got.length == ins.size && got.forall(_._1 > maxIdSeen),
              s"seed=$seed step=$step: inserted ids not fresh: ${got.toSeq}")
            got.foreach { case (rid, k, v) => model += rid -> ((k, v)) }
            nextId += ins.size
          case 4 => t.compact()
          case 5 if model.nonEmpty =>
            val ks = keysOf(1 + rnd.nextInt(2))
            t.dvDelete(col("k").isin(ks: _*))
            model = model.filterNot { case (_, (k, _)) => ks.contains(k) }
          case _ => append(1)
        }
        check(s"step $step")
        // the global counter never regresses and never reuses
        val counter = Option(t.snapshots.last.nextRowId).map(_.longValue).getOrElse(0L)
        assert(counter > maxIdSeen || model.isEmpty,
          s"seed=$seed step=$step: counter $counter not past max id $maxIdSeen")
      }
    }
  }

  test("S65n: incremental reads skip delta commits (OVERWRITE semantics — " +
    "the dvDelete contract: append-table changes carry no retractions)") {
    val (name, t) = mkSql() // snapshots 1, 2
    sql(s"UPDATE $name SET v = 'u' WHERE k % 2 = 0") // snap 3 (delta)
    sql(s"DELETE FROM $name WHERE k = 1 AND (k % 2 = 0 OR k % 2 = 1)") // snap 4 (delta)
    t.append(Seq((100L, "new")).toDF("k", "v")) // snap 5 (append)
    val across = spark.read.format("graft")
      .option("incremental-between", "2,4").load(t.root)
    assert(across.count() == 0L,
      "delta UPDATE/DELETE commits must not re-emit rows to incremental consumers")
    val withAppend = spark.read.format("graft")
      .option("incremental-between", "2,5").load(t.root)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(withAppend == Seq((100L, "new")),
      "appends after the delta commits still flow incrementally")
  }

  test("S65q: MERGE's NOT-MATCHED inserts flow to incremental consumers " +
    "(retraction components of the same commit stay silent)") {
    val (name, t) = mkSql() // snapshots 1, 2
    Seq((1L, "one"), (4L, "DEL"), (9L, "nine"), (10L, "ten"))
      .toDF("k", "v").createOrReplaceTempView("src65q")
    sql(s"""MERGE INTO $name t USING src65q s ON t.k = s.k
           |WHEN MATCHED AND s.v = 'DEL' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET t.v = s.v
           |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin) // snap 3
    val inc = spark.read.format("graft")
      .option("incremental-between", "2,3").load(t.root)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(inc == Seq((9L, "nine"), (10L, "ten")),
      s"MERGE inserts must flow like appends (no updates, no pre-images): $inc")
    // the inserted rows carry lineage like any append
    val ids = sql(s"SELECT k, _row_id FROM $name WHERE k >= 9").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(ids.keySet == Set(9L, 10L) && ids.values.toSet.size == 2)
    // a MERGE with NO not-matched inserts emits nothing incrementally
    Seq((2L, "two")).toDF("k", "v").createOrReplaceTempView("src65q2")
    sql(s"""MERGE INTO $name t USING src65q2 s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET t.v = s.v""".stripMargin) // snap 4
    assert(spark.read.format("graft")
      .option("incremental-between", "3,4").load(t.root).count() == 0L)
  }

  test("S65g: an UPDATE covering a whole file drops it from the manifest") {
    val (name, t) = mkSql()
    sql(s"UPDATE $name SET v = 'all' WHERE k >= 5") // the entire second file
    val files = t.system("files").select("file_path", "record_count", "delete_row_count")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // first file untouched, second file GONE (fully deleted), one rewrite
    assert(files.length == 2, s"fully-updated file must leave: ${files.toSeq}")
    assert(files.forall(_._3 == 0L))
    val after = lineageSql(name)
    assert(after.filter(_._1 >= 5L).map(_._3).sorted == Seq(5L, 6L, 7L))
    assert(after.filter(_._1 >= 5L).forall(_._2 == "all"))
  }
}
