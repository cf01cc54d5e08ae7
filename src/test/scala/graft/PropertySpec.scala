package graft

import graft.functions.{HashExpr, ShingleExpr, SimHash64Impl, Text}
import graft.functions.KmvSketch
import graft.sources.{GraftTable, ScanTestAccess}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based checks over the native expressions: the codegen'd
  * implementations must agree with straightforward Scala references on
  * arbitrary inputs, not just the fixtures. (No scalatest-scalacheck
  * bridge in the offline cache — generators are sampled with
  * deterministic seeds.)
  */
class PropertySpec extends AnyFunSuite {

  private def forAll[A](gen: Gen[A], rounds: Int = 20)(check: A => Unit): Unit =
    (0 until rounds).foreach { i =>
      check(gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    }
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val word = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString).map(_.take(8))
  private val text = Gen.listOf(word).map(_.mkString(" "))

  test("PolyHash64 == code-point fold reference for arbitrary strings") {
    forAll(Gen.listOfN(20, text), rounds = 10) { texts =>
      val got = texts.toDF("s").select(HashExpr.polyHash(col("s")))
        .collect().map(_.getLong(0)).toSeq
      val want = texts.map { s =>
        var acc = 0L
        s.codePoints().forEach(cp => acc = (acc * 31 + cp) % 1000000007L)
        acc
      }
      assert(got == want)
    }
  }

  test("Shingles3 expression == HOF formulation for arbitrary word lists") {
    forAll(Gen.listOfN(10, Gen.listOf(word)), rounds = 10) { wordLists =>
      val df = wordLists.map(ws => Tuple1(ws)).toDF("w")
      val native = df.select(ShingleExpr.shingles3(col("w")))
        .collect().map(_.getSeq[String](0).toSet).toSeq
      val hof = df.select(Text.shingles3FromWords(col("w")))
        .collect().map(_.getSeq[String](0).toSet).toSeq
      assert(native == hof)
    }
  }

  test("SimHash hamming distance is a pseudo-metric: symmetric, zero on self, triangle") {
    forAll(Gen.listOfN(3, Gen.choose(Long.MinValue, Long.MaxValue)), rounds = 100) {
      case List(a, b, c) =>
        assert(SimHash64Impl.hamming(a, a) == 0)
        assert(SimHash64Impl.hamming(a, b) == SimHash64Impl.hamming(b, a))
        assert(SimHash64Impl.hamming(a, c) <=
          SimHash64Impl.hamming(a, b) + SimHash64Impl.hamming(b, c))
      case _ => ()
    }
  }

  test("KMV sketch is exact below k and invariant to partitioning") {
    forAll(Gen.zip(Gen.chooseNum(1, 200), Gen.chooseNum(1, 8)), rounds = 8) {
      case (n, parts) =>
        val df = spark.range(n.toLong).repartition(parts)
          .select(xxhash64(col("id")).as("h"))
        val est = df.agg(KmvSketch.kmvDistinct(col("h"), 256)).first().getLong(0)
        assert(est == n.toLong) // below k the k-min set holds every hash
    }
  }

  test("file pruning never changes a query's rows: defaults, no data skipping, claims, plain Spark") {
    val schema = StructType(Seq(StructField("id", IntegerType), StructField("k", IntegerType),
      StructField("b", StringType), StructField("m", MapType(StringType, IntegerType)),
      StructField("js", StringType), StructField("c", StringType), StructField("n", IntegerType)))
    val colors = Seq("red", "green", "blue", "black", "white")
    // file f: k, m['a'] and $.v around 10f, 2f and 3f (neighbours overlap), n in two
    // clusters 200 apart (range gaps), two of the five colors, sparse nulls
    def fileRows(r: scala.util.Random, f: Int): Seq[Row] = (0 until 12).map { i =>
      def orNull[A](a: => A): Any = if (r.nextInt(10) == 0) null else a
      Row(f * 100 + i, orNull(f * 10 + r.nextInt(15)), orNull(s"w${r.nextInt(30)}"),
        Map("a" -> (f * 2 + r.nextInt(3))) ++
          (if (r.nextBoolean()) Map("b" -> (f + r.nextInt(40))) else Map.empty),
        orNull(if (r.nextInt(6) == 0) "{}" else s"""{"v": ${f * 3 + r.nextInt(4)}}"""),
        colors((f + r.nextInt(2)) % colors.size),
        orNull(f * 20 + r.nextInt(5) + (if (r.nextBoolean()) 200 else 0)))
    }
    def cmp(r: scala.util.Random) = Seq("<", "<=", ">", ">=")(r.nextInt(4))
    def eqOrCmp(r: scala.util.Random) = if (r.nextBoolean()) "=" else cmp(r)
    // `lit(c, bound)`: a literal for column (or map key / variant path) c,
    // mostly a generated value or its neighbour, so range bounds hit file edges
    def atom(r: scala.util.Random, lit: (String, Int) => Int): String = r.nextInt(13) match {
      case 0 => s"k = ${lit("k", 70)}"
      case 1 => s"k IN (${lit("k", 70)}, ${lit("k", 70)})"
      case 2 => s"k ${cmp(r)} ${lit("k", 70)}"
      case 3 => val lo = lit("k", 70); s"k BETWEEN $lo AND ${lo + r.nextInt(10)}"
      case 4 => s"b = 'w${r.nextInt(40)}'"
      case 5 => s"b IN ('w${r.nextInt(40)}', 'w${r.nextInt(40)}')"
      case 6 => s"c IN ('${colors(r.nextInt(5))}', '${colors(r.nextInt(5))}')"
      case 7 => val lo = lit("n", 340); s"n BETWEEN $lo AND ${lo + r.nextInt(30)}"
      case 8 => s"n ${cmp(r)} ${lit("n", 340)}"
      case 9 => s"${Seq("k", "b", "js", "n")(r.nextInt(4))} IS NULL"
      case 10 => val key = if (r.nextBoolean()) "a" else "b"
        s"m['$key'] ${eqOrCmp(r)} ${lit(key, 50)}"
      case 11 => s"variant_get(parse_json(js), '$$.v', 'bigint') ${eqOrCmp(r)} ${lit("v", 50)}"
      case _ => s"get_json_object(js, '$$.v') = '${lit("v", 50)}'"
    }
    val key = "spark.graft.subscriptFilters.enabled"
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.SubscriptFilterRule(() =>
        spark.conf.get(key, "false").toBoolean)
    val dropped = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    try {
      spark.conf.set(key, "true")
      for (seed <- 1L to 3L) {
        val r = new scala.util.Random(seed)
        val path = TestSpark.tmpDir("pruneprop")
        val t = GraftTable.create(spark, path, schema, options = Map(
          "file-index.bloom-filter.columns" -> "b,m",
          "file-index.variant.columns" -> "js", "file-index.variant.js.paths" -> "$.v",
          "file-index.bitmap.columns" -> "c", "file-index.bsi.columns" -> "n"))
        val rows = (0 until 6).flatMap { f =>
          val fr = fileRows(r, f)
          t.append(spark.createDataFrame(java.util.Arrays.asList(fr: _*), schema).repartition(1))
          fr
        }
        val plain = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        def ints(vs: Seq[Any]): IndexedSeq[Int] = vs.collect { case i: Int => i }.toIndexedSeq
        val vals = Map(
          "k" -> ints(rows.map(_.get(1))), "n" -> ints(rows.map(_.get(6))),
          "a" -> ints(rows.flatMap(_.getMap[String, Int](3).get("a"))),
          "b" -> ints(rows.flatMap(_.getMap[String, Int](3).get("b"))),
          "v" -> ints(rows.flatMap(row =>
            Option(row.getString(4)).flatMap("\\d+".r.findFirstIn).map(_.toInt))))
        def lit(c: String, bound: Int): Int = r.nextInt(4) match {
          case 0 => r.nextInt(bound)
          case 1 => vals(c)(r.nextInt(vals(c).size)) + (if (r.nextBoolean()) 1 else -1)
          case _ => vals(c)(r.nextInt(vals(c).size))
        }
        def graftRead(opts: (String, String)*) = spark.read.format("graft").options(opts.toMap).load(path)
        def sorted(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.sortBy(_.getInt(0))
        (0 until 25).foreach { _ =>
          val q = Seq.fill(1 + r.nextInt(3))(atom(r, lit)).mkString(" AND ")
          val pruned = graftRead().filter(q)
          val want = sorted(plain.filter(q))
          assert(sorted(pruned) == want, s"seed $seed: $q (every index on)")
          ScanTestAccess.planMetrics(pruned).foreach { case (s, v) => dropped(s) += v }
          assert(sorted(graftRead("dataSkip" -> "false").filter(q)) == want,
            s"seed $seed: $q (dataSkip=false)")
          assert(sorted(graftRead("bitmap.claim-filters" -> "true",
            "bsi.claim-filters" -> "true").filter(q)) == want, s"seed $seed: $q (claims on)")
        }
      }
    } finally {
      spark.conf.unset(key)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_.isInstanceOf[graft.plans.SubscriptFilterRule])
    }
    Seq("stats", "bloom", "bitmap", "bsi").foreach { s =>
      assert(dropped(s) > 0, s"no query's files were dropped by $s: $dropped")
    }
  }
}
