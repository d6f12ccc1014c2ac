package graft

import graft.functions.{GraftFunctions, RollingHash}
import org.apache.spark.sql.functions._

/** Native Catalyst extensions: codegen'd rolling hash + histogram
  * AUC aggregate. */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("graft_fingerprint64 matches the Scala reference bit-for-bit") {
    GraftFunctions.register(spark)
    val inputs = Seq("", "a", "hello world", "the quick brown fox",
      "ünïcödé ✓ strings", "a" * 1000)
    val got = inputs.toDF("s")
      .selectExpr("s", "graft_fingerprint64(s) AS h")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for (s <- inputs) assert(got(s) == RollingHash.reference(s), s"input '$s'")
  }

  test("graft_fingerprint64 stays inside WholeStageCodegen") {
    GraftFunctions.register(spark)
    val df = spark.range(100).selectExpr("graft_fingerprint64(cast(id as string)) AS h")
    // `*(n)` prefix marks operators inside a WholeStageCodegen stage
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [graft_fingerprint64"), plan)
    assert(df.distinct().count() == 100)
  }

  test("graft_json_number reads a flat JSON int object in place and stays inside WholeStageCodegen") {
    GraftFunctions.register(spark)
    val df = Seq("""{"k": 87}""", """{"a": 1, "k": -3}""", """{"a": 1}""", """{"k": 1.5}""", null)
      .toDF("s").repartition(1).selectExpr("graft_json_number(s, 'k') AS v")
    assert(df.collect().map(r => Option(r.get(0))).toSeq ==
      Seq(Some(87.0), Some(-3.0), Some(0.0), None, None))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(") && plan.contains("Project [graft_json_number("), plan)
  }

  test("graft_auc matches BinaryClassificationEvaluator within 2/bins") {
    GraftFunctions.register(spark)
    // separable-ish synthetic scores with overlap
    val rng = new scala.util.Random(5)
    val rows = (1 to 4000).map { _ =>
      val y = if (rng.nextDouble() < 0.3) 1.0 else 0.0
      val s = math.min(1.0, math.max(0.0,
        rng.nextGaussian() * 0.18 + (if (y > 0.5) 0.62 else 0.40)))
      (y, s)
    }
    val df = rows.toDF("label", "score")
    val sketch = df.agg(expr("graft_auc(label, score)")).head.getDouble(0)
    import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
    val exact = new BinaryClassificationEvaluator()
      .setLabelCol("label").setRawPredictionCol("score")
      .setMetricName("areaUnderROC").evaluate(df)
    assert(math.abs(sketch - exact) < 2.0 / 2048 + 1e-6, s"sketch $sketch vs exact $exact")
  }

  test("graft_cosine is bit-identical to the HOF formulation") {
    GraftFunctions.register(spark)
    val rng = new scala.util.Random(3)
    val rows = (0 until 50).map(i =>
      (i, Array.fill(64)(rng.nextGaussian().toFloat), Array.fill(64)(rng.nextGaussian().toFloat)))
    val df = rows.toDF("i", "a", "b")
    val hof = graft.queries.Similarity.cosine(
      graft.queries.Similarity.dotd(col("a"), col("b")),
      graft.queries.Similarity.normSq(col("a")),
      graft.queries.Similarity.normSq(col("b")))
    val out = df.select(col("i"), expr("graft_cosine(a, b)").as("native"), hof.as("hof"))
      .collect()
    for (r <- out) assert(r.getDouble(1) == r.getDouble(2), s"row ${r.getInt(0)}")
  }

  test("graft_freq_items honours the Misra-Gries guarantee under merge") {
    GraftFunctions.register(spark)
    // skewed synthetic stream: token t0 has 3000 hits, t1..t9 have 300,
    // a 1000-token noise tail has ~3 each; capacity 16 << 1010 distinct
    // forces the decrement path AND the merge-combine across partitions
    val rows = (0 until 3000).map(_ => "t0") ++
      (for (i <- 1 to 9; _ <- 0 until 300) yield s"t$i") ++
      (0 until 3000).map(i => s"noise${i % 1000}")
    val rng = new scala.util.Random(13)
    val df = rng.shuffle(rows).toDF("tok").repartition(8)
    val cand = df.agg(expr("graft_freq_items(tok, 16)").as("c"))
      .head().getSeq[String](0).toSet
    // N = 8700, bound N/(k+1) ≈ 512: t0 (3000) must be present; the
    // 300-hit tokens are below the bound so no guarantee, and the
    // candidate list must respect capacity
    assert(cand.contains("t0"), cand)
    assert(cand.size <= 16, cand)
    // exact recount over candidates recovers the exact top-1
    val exactTop = df.groupBy($"tok").count()
      .orderBy($"count".desc, $"tok").head().getString(0)
    assert(cand.contains(exactTop))
    // with capacity >= distinct items the sketch is exhaustive & exact
    val small = Seq("a", "a", "b", "c", "c", "c").toDF("tok").repartition(3)
    val all16 = small.agg(expr("graft_freq_items(tok, 16)").as("c"))
      .head().getSeq[String](0)
    assert(all16.toSet == Set("a", "b", "c"))
    assert(all16.head == "c") // ordered by estimated count desc
  }

  test("graft_dot is bit-identical to the HOF dot and codegen-resident") {
    GraftFunctions.register(spark)
    val rng = new scala.util.Random(5)
    val rows = (0 until 50).map(i =>
      (i, Array.fill(64)(rng.nextGaussian().toFloat), Array.fill(64)(rng.nextGaussian().toFloat)))
    val df = rows.toDF("i", "a", "b")
    val hof = graft.queries.Similarity.dotd(col("a"), col("b"))
    val q = df.select(col("i"), expr("graft_dot(a, b)").as("native"), hof.as("hof"))
    for (r <- q.collect()) assert(r.getDouble(1) == r.getDouble(2), s"row ${r.getInt(0)}")
    // stays inside WholeStageCodegen (no fallback eval in the hot
    // path) — asserted over range() because a LocalRelation input
    // would be constant-folded into a LocalTableScan
    val cg = spark.range(100)
      .selectExpr("transform(sequence(0L, 7L), x -> CAST(x + id AS DOUBLE)) AS a")
      .selectExpr("graft_dot(a, a) AS d")
    val plan = cg.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[graft_dot""".r.findFirstIn(plan).isDefined, plan)
    // null-safe: null array → null out
    val withNull = df.select(expr("graft_dot(CAST(NULL AS ARRAY<DOUBLE>), b)").as("d"))
    assert(withNull.collect().forall(_.isNullAt(0)))
    // HOF-equivalent edge semantics: unequal lengths → NULL (zip_with
    // null-pads and the sum absorbs it), NULL element → NULL. Built
    // over range(id) so the expressions are NOT constant-folded — the
    // codegen path is the one exercised.
    val mm = spark.range(3).selectExpr("id",
      "graft_dot(transform(sequence(0L, id), x -> CAST(x AS DOUBLE)), array(1.0d, 1.0d)) AS d")
      .collect()
    assert(mm.filter(_.getLong(0) != 1L).forall(_.isNullAt(1)), mm.mkString(","))
    assert(mm.find(_.getLong(0) == 1L).get.getDouble(1) == 1.0, mm.mkString(","))
    val ne = spark.range(2).selectExpr(
      """graft_dot(transform(sequence(0L, 1L),
        |  x -> CASE WHEN x = id THEN CAST(NULL AS DOUBLE) ELSE 1.0d END),
        |  array(1.0d, 1.0d)) AS d""".stripMargin).collect()
    assert(ne.forall(_.isNullAt(0)), ne.mkString(","))
    // interpreted path agrees (constant-folded literal form), and so
    // does the HOF it claims equivalence with
    assert(spark.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d)) AS d").head().isNullAt(0))
    assert(spark.sql(
      "SELECT aggregate(zip_with(array(1.0d, 2.0d), array(3.0d), (x, y) -> x * y), 0.0d, (acc, x) -> acc + x) AS d"
    ).head().isNullAt(0))
  }

  test("graft_minhash is bit-identical to the HOF formulation and codegen-resident") {
    GraftFunctions.register(spark)
    val df = spark.range(200)
      .selectExpr("id AS doc_id",
        "transform(sequence(0L, 5L + id % 37), i -> xxhash64(i * 7 + id)) AS hs")
    val both = df.selectExpr(
      "graft_minhash(hs, 16) AS native",
      "transform(sequence(0, 15), j -> array_min(transform(hs, h -> xxhash64(j, h)))) AS hof")
    assert(both.filter(expr("native <> hof")).count() == 0)
    // codegen residency needs a lambda-free input projection (the HOF
    // hs above would itself fall out of WholeStageCodegen)
    val plan = spark.range(100)
      .selectExpr("array(xxhash64(id), xxhash64(id + 1), xxhash64(id * 3)) AS hs")
      .selectExpr("graft_minhash(hs, 8) AS s")
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
    // null input -> null; empty array -> k nulls (HOF parity)
    val edge = spark.sql(
      """SELECT graft_minhash(CAST(NULL AS ARRAY<BIGINT>), 4) AS a,
        |       graft_minhash(CAST(array() AS ARRAY<BIGINT>), 4) AS b""".stripMargin).head
    assert(edge.isNullAt(0))
    assert(edge.getSeq[Any](1) == Seq(null, null, null, null))
  }

  test("property: natives equal their built-in/HOF formulations on random inputs") {
    GraftFunctions.register(spark)
    // random sorted-distinct long arrays (negatives included, values
    // compressed into [-50, 50) to force overlaps), random lengths
    val rng = new scala.util.Random(99)
    def arr() = Array.fill(rng.nextInt(60))(rng.nextLong() % 50).distinct.sorted
    val rows = Seq.fill(300)((arr(), arr()))
    val df = rows.toDF("a", "b")
    val si = df.selectExpr(
      "graft_sorted_intersect(a, b) AS native",
      "size(array_intersect(a, b)) AS builtin")
    assert(si.filter(expr("native <> builtin")).count() == 0)
    val mh = df.filter(size(col("a")) > 0).selectExpr(
      "graft_minhash(a, 8) AS native",
      "transform(sequence(0, 7), j -> array_min(transform(a, h -> xxhash64(j, h)))) AS hof")
    assert(mh.filter(expr("native <> hof")).count() == 0)
  }

  test("graft_simhash is bit-identical to the HOF fold-and-pack formulation") {
    GraftFunctions.register(spark)
    val df = spark.range(200)
      .selectExpr("transform(sequence(0L, id % 41), i -> xxhash64(i * 13 + id)) AS hs")
    val both = df.selectExpr(
      "graft_simhash(hs) AS native",
      """aggregate(zip_with(
        |  aggregate(hs, array_repeat(0L, 64),
        |    (acc, h) -> zip_with(acc, sequence(0, 63),
        |                  (a, b) -> a + CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)),
        |  sequence(0, 63),
        |  (s, b) -> CASE WHEN s > 0 THEN shiftleft(1L, b) ELSE 0L END),
        |0L, (acc, v) -> acc | v) AS hof""".stripMargin)
    assert(both.filter(expr("native <> hof")).count() == 0)
    // codegen residency with a lambda-free input
    val plan = spark.range(100)
      .selectExpr("array(xxhash64(id), xxhash64(id + 7)) AS hs")
      .selectExpr("graft_simhash(hs) AS s")
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
  }

  test("graft_hashed_ngrams is bit-identical to the HOF formulation and codegen-resident") {
    GraftFunctions.register(spark)
    // random word arrays over a small vocabulary (forces repeated
    // grams, so distinct matters), lengths straddling every width
    val df = spark.range(300).selectExpr(
      "transform(sequence(0L, id % 23), i -> concat('w', CAST(xxhash64(i * 11 + id) % 7 AS STRING))) AS w")
    for (k <- Seq(3, 8)) {
      val both = df.filter(expr(s"size(w) >= $k")).selectExpr(
        s"graft_hashed_ngrams(w, $k) AS native",
        s"""sort_array(array_distinct(transform(
           |  sequence(0, size(w) - $k),
           |  i -> xxhash64(${(0 until k).map(j => s"xxhash64(w[i+$j])").mkString(",")})))) AS hof""".stripMargin)
      assert(both.filter(expr("native <> hof")).count() == 0, s"width $k")
    }
    // fewer than width tokens -> empty array; null -> null
    val edge = spark.sql(
      """SELECT graft_hashed_ngrams(array('a', 'b'), 3) AS a,
        |       graft_hashed_ngrams(CAST(NULL AS ARRAY<STRING>), 3) AS b""".stripMargin).head
    assert(edge.getSeq[Any](0) == Seq.empty)
    assert(edge.isNullAt(1))
    // codegen residency with a lambda-free input
    val plan = spark.range(100)
      .selectExpr("array('a', CAST(id AS STRING), 'b', 'a') AS w")
      .selectExpr("graft_hashed_ngrams(w, 3) AS g")
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
  }

  test("graft_hashed_ngrams_pos matches the HOF formulation positionally") {
    GraftFunctions.register(spark)
    val df = spark.range(300).selectExpr(
      "transform(sequence(0L, id % 23), i -> concat('w', CAST(xxhash64(i * 11 + id) % 7 AS STRING))) AS w")
    for (k <- Seq(3, 5)) {
      val both = df.filter(expr(s"size(w) >= $k")).selectExpr(
        s"graft_hashed_ngrams_pos(w, $k) AS native",
        s"""transform(
           |  sequence(0, size(w) - $k),
           |  i -> xxhash64(${(0 until k).map(j => s"xxhash64(w[i+$j])").mkString(",")})) AS hof""".stripMargin)
      assert(both.filter(expr("native <> hof")).count() == 0, s"width $k")
    }
    // fewer than width tokens -> empty array; positional = no dedup
    val edge = spark.sql(
      """SELECT graft_hashed_ngrams_pos(array('a', 'b'), 3) AS a,
        |       graft_hashed_ngrams_pos(array('x', 'y', 'x', 'y'), 2) AS b""".stripMargin).head
    assert(edge.getSeq[Any](0) == Seq.empty)
    assert(edge.getSeq[Long](1).length == 3)
    assert(edge.getSeq[Long](1)(0) == edge.getSeq[Long](1)(2), "repeat windows hash equal")
  }

  test("graft_span_scrub merges intervals, counts maximal spans, reassembles kept text") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_span_scrub(array('a','b','c','d','e','f','g'), array(3, 1), 3) AS o1,
        |       graft_span_scrub(array('a','b','c','d','e','f','g'), array(0, 4), 2) AS o2,
        |       graft_span_scrub(array('a','b','c'), cast(array() as array<int>), 3) AS o3
        |""".stripMargin).head()
    // starts 1,3 (UNSORTED input) at width 3: [1..3] u [3..5] -> one
    // merged span of 5; kept = endpoints
    val o1 = r.getStruct(0)
    assert((o1.getLong(0), o1.getLong(1), o1.getString(2)) == ((5L, 1L, "a g")), o1.toString)
    // disjoint [0..1], [4..5] -> two spans
    val o2 = r.getStruct(1)
    assert((o2.getLong(0), o2.getLong(1), o2.getString(2)) == ((4L, 2L, "c d g")), o2.toString)
    // no duplicated windows -> untouched text
    val o3 = r.getStruct(2)
    assert((o3.getLong(0), o3.getLong(1), o3.getString(2)) == ((0L, 0L, "a b c")), o3.toString)
  }

  test("graft_token_profile is bit-identical to the HOF count formulation") {
    GraftFunctions.register(spark)
    // random draws over a vocab that includes every marker word plus
    // fillers, with repeats (distinct matters) and empty arrays
    val df = spark.range(300).selectExpr(
      """CASE WHEN id % 17 = 0 THEN CAST(array() AS ARRAY<STRING>)
        |ELSE transform(sequence(0L, id % 17 - 1), i -> element_at(
        |  array('the','a','of','der','die','das','le','la','les','el','los','las','x','y','zz'),
        |  CAST(abs(xxhash64(i * 31 + id)) % 15 AS INT) + 1)) END AS w""".stripMargin)
    val both = df.selectExpr(
      "graft_token_profile(w) AS native",
      """array(CAST(size(w) AS BIGINT),
        |      CAST(size(filter(w, x -> x = 'the' OR x = 'a')) AS BIGINT),
        |      CAST(size(array_distinct(w)) AS BIGINT),
        |      CAST(size(filter(w, x -> x = 'the' OR x = 'a' OR x = 'of')) AS BIGINT),
        |      CAST(size(filter(w, x -> x = 'der' OR x = 'die' OR x = 'das')) AS BIGINT),
        |      CAST(size(filter(w, x -> x = 'le' OR x = 'la' OR x = 'les')) AS BIGINT),
        |      CAST(size(filter(w, x -> x = 'el' OR x = 'los' OR x = 'las')) AS BIGINT)) AS hof""".stripMargin)
    assert(both.filter(expr("native <> hof")).count() == 0)
    // codegen residency with a lambda-free input
    val plan = spark.range(100)
      .selectExpr("array('the', CAST(id AS STRING), 'x') AS w")
      .selectExpr("graft_token_profile(w) AS p")
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
  }

  test("graft_sorted_intersect equals size(array_intersect) on sorted arrays") {
    GraftFunctions.register(spark)
    val rng = new scala.util.Random(17)
    def arr() = Array.fill(rng.nextInt(60))(rng.nextInt(40).toLong).distinct.sorted
    val rows = (0 until 200).map(i => (i, arr(), arr())) ++
      Seq((200, Array.empty[Long], Array(1L, 2L)), (201, Array.empty[Long], Array.empty[Long]))
    val out = rows.toDF("i", "a", "b")
      .selectExpr("i", "graft_sorted_intersect(a, b) AS native",
        "cast(size(array_intersect(a, b)) AS bigint) AS builtin")
      .collect()
    for (r <- out) assert(r.getLong(1) == r.getLong(2), s"row ${r.getInt(0)}")
  }

  test("graft_sorted_intersect stays inside WholeStageCodegen and is null-safe") {
    GraftFunctions.register(spark)
    val df = spark.range(100)
      .selectExpr("sequence(0L, id) AS a", "sequence(id div 2, 99L) AS b")
      .selectExpr("graft_sorted_intersect(a, b) AS n")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_sorted_intersect"), plan)
    assert(plan.contains("*(1) Project"), plan)
    // |[0..id] ∩ [id/2..99]| = id - id/2 + 1 for id <= 99
    val got = df.collect().map(_.getLong(0))
    val want = (0 until 100).map(id => (id - id / 2 + 1).toLong)
    assert(got.toSeq == want)
    val withNull = Seq[(Option[Array[Long]], Option[Array[Long]])](
        (Some(Array(1L, 2L)), None), (None, None))
      .toDF("a", "b").selectExpr("graft_sorted_intersect(a, b) AS n").collect()
    assert(withNull.forall(_.isNullAt(0)))
  }

  test("graft_positions_equal is bit-identical to the HOF formulation and codegen-resident") {
    GraftFunctions.register(spark)
    val rng = new scala.util.Random(23)
    val rows = (0 until 200).map { i =>
      val a = Array.fill(64)(rng.nextInt(8).toLong)
      // mix of identical, perturbed, and independent signatures
      val b = i % 3 match {
        case 0 => a.clone()
        case 1 => a.clone().updated(rng.nextInt(64), 99L)
        case _ => Array.fill(64)(rng.nextInt(8).toLong)
      }
      (i, a, b)
    }
    val out = rows.toDF("i", "a", "b")
      .selectExpr("i", "graft_positions_equal(a, b) AS native",
        """cast(aggregate(zip_with(a, b, (x, y) -> int(x = y)), 0, (acc, v) -> acc + v) AS bigint) AS hof""")
      .collect()
    for (r <- out) assert(r.getLong(1) == r.getLong(2), s"row ${r.getInt(0)}")
    // codegen residency with a lambda-free input
    val df = spark.range(100)
      .selectExpr("sequence(0L, 63L) AS a", "sequence(id, id + 63L) AS b")
      .selectExpr("graft_positions_equal(a, b) AS n")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_positions_equal"), plan)
    assert(plan.contains("*(1) Project"), plan)
    assert(df.collect().map(_.getLong(0)).toSeq ==
      (0 until 100).map(id => if (id == 0) 64L else 0L))
    val withNull = Seq[(Option[Array[Long]], Option[Array[Long]])](
        (Some(Array(1L, 2L)), None), (None, None))
      .toDF("a", "b").selectExpr("graft_positions_equal(a, b) AS n").collect()
    assert(withNull.forall(_.isNullAt(0)))
  }

  test("graft_auc degenerate inputs: single class → 0.5") {
    GraftFunctions.register(spark)
    val df = Seq((1.0, 0.9), (1.0, 0.2)).toDF("label", "score")
    assert(df.agg(expr("graft_auc(label, score)")).head.getDouble(0) == 0.5)
  }

  test("graft_auc merges across partitions (distributed correctness)") {
    GraftFunctions.register(spark)
    val rows = (1 to 1000).map(i => (if (i % 3 == 0) 1.0 else 0.0, (i % 100) / 100.0))
    val one = rows.toDF("label", "score").coalesce(1)
      .agg(expr("graft_auc(label, score)")).head.getDouble(0)
    val many = rows.toDF("label", "score").repartition(13)
      .agg(expr("graft_auc(label, score)")).head.getDouble(0)
    assert(one == many)
  }

  test("misuse surfaces analysis-grade errors, built-in parity") {
    GraftFunctions.register(spark)
    val df = Seq("x").toDF("s")
    // Wrong argument count → the same WRONG_NUM_ARGS error condition
    // Spark's builtins raise, not a raw require/IndexOutOfBounds.
    val wrongArity = intercept[org.apache.spark.sql.AnalysisException] {
      df.selectExpr("graft_cosine(s)").collect()
    }
    assert(wrongArity.getCondition == "WRONG_NUM_ARGS.WITHOUT_SUGGESTION", wrongArity)
    assert(wrongArity.getMessage.contains("graft_cosine"), wrongArity.getMessage)
    // Non-literal k for graft_minhash → NON_FOLDABLE_ARGUMENT.
    val nonLit = intercept[org.apache.spark.sql.AnalysisException] {
      df.selectExpr("graft_minhash(array(1L), length(s))").collect()
    }
    assert(nonLit.getCondition == "NON_FOLDABLE_ARGUMENT", nonLit)
  }

  test("graft_greedy_pack matches the reference fold and stays codegen-resident") {
    GraftFunctions.register(spark)
    def reference(ns: Seq[Long], b: Long): Seq[Long] = {
      var poff = 0L
      ns.map { n =>
        val fill = poff % b
        if (fill != 0 && fill + n > b) poff += b - fill
        val o = poff
        poff += n
        if (n > b && poff % b != 0) poff += b - poff % b
        o
      }
    }
    // every branch: fits / pads-then-fresh / exactly-budget /
    // over-budget (exact multiple and padded tail) / zero-size
    val cases: Seq[Seq[Long]] = Seq(
      Seq.empty[Long], Seq(512L), Seq(513L),
      Seq(100L, 1000L, 5L), Seq(300L, 300L, 300L),
      Seq(100L, 100L, 100L, 100L, 100L, 100L),
      Seq(512L, 1L), Seq(1024L, 1L), Seq(1500L, 5L, 600L, 0L, 7L),
      Seq(0L, 0L, 512L, 0L))
    val df = cases.zipWithIndex.map { case (ns, i) => (i, ns) }.toDF("i", "ns")
    val got = df.selectExpr("i", "graft_greedy_pack(ns, 512) AS o")
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1).toList).toMap
    for ((ns, i) <- cases.zipWithIndex)
      assert(got(i) == reference(ns, 512L).toList, s"case $i: $ns")
    // a different budget exercises the foldable parameter
    val b5 = Seq((0, Seq(3L, 3L, 7L, 2L))).toDF("i", "ns")
      .selectExpr("graft_greedy_pack(ns, 5) AS o").head().getSeq[Long](0).toList
    assert(b5 == reference(Seq(3L, 3L, 7L, 2L), 5L).toList, b5)
    // codegen residency over range() (a LocalRelation input would be
    // constant-folded into a LocalTableScan)
    val cg = spark.range(50)
      .selectExpr("sequence(1L, 1L + id % 7) AS ns")
      .selectExpr("graft_greedy_pack(ns, 512) AS o")
    val plan = cg.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[graft_greedy_pack""".r.findFirstIn(plan).isDefined, plan)
    assert(cg.collect().length == 50)
    // null-safe: null array → null out
    assert(spark.sql("SELECT graft_greedy_pack(CAST(NULL AS ARRAY<BIGINT>), 512)")
      .head().isNullAt(0))
  }
}
