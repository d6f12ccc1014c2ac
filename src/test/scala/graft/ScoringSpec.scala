package graft

import graft.functions.{JsonNumberAt, Scoring}
import org.apache.spark.sql.functions._

/** Unit + property tests for the scoring expression library —
  * tolerant projection (main.py:107 semantics), map augmentation,
  * heuristic fallback, threshold classify. */
class ScoringSpec extends SparkSpec {
  import spark.implicits._

  private def features(m: Map[String, Double]) =
    Seq(("x", m)).toDF("id", "features")

  test("P1 tolerant projection: present, missing, extra keys") {
    val df = features(Map("amount" -> 12.5, "merchant_risk" -> 0.3, "extra" -> 9.0))
      .select(Scoring.featureVector(col("features")).as("v"))
    assert(df.head.getSeq[Double](0) == Seq(12.5, 0.0, 0.3, 0.0))
  }

  test("P1 empty map projects to all-zero vector") {
    val df = features(Map.empty[String, Double])
      .select(Scoring.featureVector(col("features")).as("v"))
    assert(df.head.getSeq[Double](0) == Seq(0.0, 0.0, 0.0, 0.0))
  }

  test("P2 map augmentation overrides amount under the DEFAULT dedup policy") {
    // Must work without LAST_WIN: the default EXCEPTION policy throws
    // on duplicate map keys, so withAmount has to pre-drop the key.
    assert(spark.conf.get("spark.sql.mapKeyDedupPolicy") == "EXCEPTION")
    val df = features(Map("amount" -> 1.0, "hour" -> 4.0))
      .select(
        Scoring.featureAt(
          Scoring.withAmount(col("features"), lit(99.0)), "amount").as("a"),
        Scoring.featureAt(
          Scoring.withAmount(col("features"), lit(99.0)), "hour").as("h"))
    val r = df.head
    assert(r.getDouble(0) == 99.0 && r.getDouble(1) == 4.0)
  }

  test("P2 map augmentation inserts amount when absent") {
    val df = features(Map("hour" -> 4.0))
      .select(Scoring.featureAt(
        Scoring.withAmount(col("features"), lit(7.5)), "amount").as("a"))
    assert(df.head.getDouble(0) == 7.5)
  }

  test("P4 heuristic: 1.0 above threshold else 0.05") {
    val df = Seq(1500.0, 1000.0, 3.0).toDF("amount")
      .select(Scoring.heuristicProba(col("amount")).as("p"))
    assert(df.collect().map(_.getDouble(0)).toSeq == Seq(1.0, 0.05, 0.05))
  }

  test("P3 threshold classify at 0.5 boundary") {
    val df = Seq(0.49999, 0.5, 0.51).toDF("p")
      .select(Scoring.classify(col("p")).as("c"))
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(0, 1, 1))
  }

  test("property: projection always yields FeatureOrder-length vector with 0.0 defaults") {
    val keys = Vector("amount", "num_items", "merchant_risk", "hour", "junk1", "junk2")
    val rng = new scala.util.Random(1234)
    val cases = Vector.fill(40) {
      keys.filter(_ => rng.nextBoolean())
        .map(k => k -> (rng.nextDouble() * 2e6 - 1e6)).toMap
    }
    // run all cases through ONE plan (arbitrary maps as a column)
    val df = cases.zipWithIndex.map { case (m, i) => (i, m) }.toDF("i", "features")
      .select(col("i"), Scoring.featureVector(col("features")).as("v"))
    val got = df.collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    for ((m, i) <- cases.zipWithIndex) {
      assert(got(i).length == Scoring.FeatureOrder.length)
      assert(got(i) == Scoring.FeatureOrder.map(k => m.getOrElse(k, 0.0)))
    }
  }

  test("logistic closed form equals reference sigmoid formula") {
    val means = Seq(10.0, 2.0); val stds = Seq(5.0, 1.0)
    val coef = Seq(0.7, -1.3); val b = 0.2
    val df = Seq((12.0, 3.0)).toDF("f1", "f2")
      .select(Scoring.logisticProba(Seq(col("f1"), col("f2")), means, stds, coef, b).as("p"))
    val z1 = (12.0 - 10.0) / 5.0; val z2 = (3.0 - 2.0) / 1.0
    val expected = 1.0 / (1.0 + math.exp(-(0.7 * z1 + -1.3 * z2 + 0.2)))
    assert(math.abs(df.head.getDouble(0) - expected) < 1e-12)
  }

  /** The hand-picked payloads of the [[Scoring.jsonFeatureAt]]
    * contract, each with whether the kernel decides it (the rest fall
    * through to Spark's parse) — so a kernel that stops deciding the
    * canonical `{"k": N}` fails even while its results stay right.
    * `None` is a NULL payload. */
  private val jsonCases: Seq[(Option[Array[Byte]], Boolean)] = {
    def u(s: String) = Some(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def raw(parts: Any*) = Some(parts.flatMap {
      case s: String => s.getBytes(java.nio.charset.StandardCharsets.UTF_8).toSeq
      case b: Int    => Seq(b.toByte)
    }.toArray)
    val members = (0 until JsonNumberAt.MaxMembers - 1).map(i => s""""a$i":$i""").mkString(",")
    Seq(
      // plain
      u("""{"k": 87}""") -> true, u("""{"k":87}""") -> true,
      u(" \t\n\r{ \"k\" \n:\t-87 \r}\n ") -> true, u("{}") -> true, u(" { } ") -> true,
      u("""{"a": 5, "b": -3}""") -> true, u("""{"k": -0}""") -> true, u("""{"k": 0}""") -> true,
      u("""{"": 1, "k": 2}""") -> true, u("""{"k": 01}""") -> false, u("""{"k": -01}""") -> false,
      u("""{"k": 1.5}""") -> false, u("""{"k": 1e3}""") -> false, u("""{"k": -}""") -> false,
      u("""{"k": 999999999999999999}""") -> true, u("""{"k": -999999999999999999}""") -> true,
      u("""{"k": 9223372036854775807}""") -> false, u("""{"k": 1234567890123456789012345}""") -> false,
      u(s"""{$members,"k":7}""") -> true, u(s"""{$members,"b":1,"k":7}""") -> false,
      // non-number values
      u("""{"k": "12"}""") -> false, u("""{"k": null}""") -> false, u("""{"k": true}""") -> false,
      u("""{"k": {"k": 1}}""") -> false, u("""{"k": NaN}""") -> false, u("""{"k": [1]}""") -> false,
      // a non-numeric sibling
      u("""{"a":"x","k":1}""") -> false, u("""{"k":1,"a":1.5}""") -> false,
      // duplicate keys
      u("""{"k":1,"k":2}""") -> false, u("""{"a":1,"a":2,"k":3}""") -> false,
      u("""{"a":1,"k":3,"a":2}""") -> false,
      // quoting, key spelling, encoding
      u("{'k':1}") -> false, u("{k:1}") -> false, u("{\"k" + "\\" + "u0000\":1}") -> false,
      u("{\"" + "\\" + "u006b\":1}") -> false, u("""{"ké":1,"k":2}""") -> false,
      raw("{\"k", 0xff, "\":1,\"k\":2}") -> false, raw("{\"k\":1}", 0xc3) -> false,
      u("{\"k\":1,\"\t\":2}") -> false,
      // framing
      u("""{"k":1}x""") -> false, u("""{"k":1}{"k":2}""") -> false, u("""{"k":1""") -> false,
      u("""{"k":""") -> false, u("""{"k":1,}""") -> false, u("""{,"k":1}""") -> false,
      u("[1]") -> false, u("\"\"") -> false, u("") -> false, u("1") -> false, None -> false)
  }

  /** `n` seeded mutations of valid flat integer objects: inserted,
    * deleted, replaced and repeated bytes drawn from JSON's
    * punctuation, digits, letters, whitespace and non-ASCII bytes. */
  private def mutatedJson(n: Int, seed: Long): Seq[Array[Byte]] = {
    val rng = new scala.util.Random(seed)
    def pick[A](xs: IndexedSeq[A]): A = xs(rng.nextInt(xs.size))
    val keys = Vector("k", "k", "a", "b", "K", "kk", "k ", "", "merchant_risk")
    val spaces = Vector("", "", " ", "\t", "\n", "\r", "  ")
    def int: String = {
      val digits = (1 + rng.nextInt(20)).min(1 + rng.nextInt(20))
      val body = (1 to digits).map(i => if (i == 1 && rng.nextInt(8) > 0) 1 + rng.nextInt(9) else rng.nextInt(10))
      (if (rng.nextInt(4) == 0) "-" else "") + body.mkString
    }
    def doc: String = {
      val ms = Seq.fill(rng.nextInt(JsonNumberAt.MaxMembers + 3))(
        s"""${pick(spaces)}"${pick(keys)}"${pick(spaces)}:${pick(spaces)}$int${pick(spaces)}""")
      s"${pick(spaces)}{${ms.mkString(",")}${pick(spaces)}}${pick(spaces)}"
    }
    val alphabet = ("{}[]\":,-+0123456789.eE \t\n\r'\\aknNtu".getBytes.toVector ++
      Vector(0xc3, 0xa9, 0xff, 0x00, 0x7f).map(_.toByte))
    Seq.fill(n) {
      val b = scala.collection.mutable.ArrayBuffer.from(doc.getBytes("UTF-8"))
      for (_ <- 0 until rng.nextInt(4)) {
        val at = rng.nextInt(b.size + 1)
        rng.nextInt(4) match {
          case 0                 => b.insert(at, pick(alphabet))
          case 1 if at < b.size  => b.remove(at)
          case 2 if at < b.size  => b(at) = pick(alphabet)
          case _                 => b.insertAll(at, b.slice(at, at + 1 + rng.nextInt(8)).toSeq)
        }
      }
      b.toArray
    }
  }

  private def withConfs[A](kv: (String, String)*)(body: => A): A = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("jsonFeatureAt equals featureAt(from_json) bit for bit, codegen'd and interpreted") {
    val mutated = mutatedJson(12000, seed = 20261018L)
    val inputs = jsonCases.map(_._1.orNull) ++ mutated
    val df = spark.sparkContext.parallelize(inputs.zipWithIndex.map(_.swap), 4).toDF("i", "b")
      .select(col("i"), col("b").cast("string").as("s"))
      .select(col("i"),
        Scoring.jsonFeatureAt(col("s"), "k").as("kernel_first"),
        Scoring.featureAt(from_json(col("s"), Scoring.FeatureMapType), "k").as("spark"),
        Scoring.jsonNumberAt(col("s"), "k").isNotNull.as("decided"))
    def show(i: Int) = Option(inputs(i)).map(b => new String(b, "UTF-8").map {
      case c if c < ' ' => f"\\x${c.toInt}%02x"
      case c            => c.toString
    }.mkString).getOrElse("NULL")
    for ((factory, wholeStage) <- Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false"))
      withConfs("spark.sql.codegen.factoryMode" -> factory,
                "spark.sql.codegen.wholeStage" -> wholeStage) {
        val rows = df.collect().map(r => r.getInt(0) -> r).toMap
        val bits = java.lang.Double.doubleToRawLongBits _
        val off = rows.values.filter(r => bits(r.getDouble(1)) != bits(r.getDouble(2)))
          .map(r => s"${show(r.getInt(0))}: ${r.getDouble(1)} vs ${r.getDouble(2)}")
        assert(off.isEmpty, s"$factory: ${off.size} mismatches, e.g. ${off.take(5).mkString("; ")}")
        for (((_, decides), i) <- jsonCases.zipWithIndex)
          assert(rows(i).getBoolean(3) == decides, s"$factory: decided(${show(i)})")
        // the mutations keep both sides busy: many stay decidable
        val decided = mutated.indices.count(j => rows(jsonCases.size + j).getBoolean(3))
        assert(decided > mutated.size / 10 && decided < mutated.size * 9 / 10,
          s"$factory: $decided of ${mutated.size} mutations decided")
      }
  }
}
