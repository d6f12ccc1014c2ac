package graft.queries

import graft.Q
import graft.SessionCaches.cutLineage
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text analysis + deduplication over `documents` — the
  * training-data-pipeline operators (builder brief; BASELINE.json
  * north star). The reference has no text surface; these are the
  * operators a 100 TB LLM-data pipeline needs, built as single
  * shuffle-bounded DataFrame plans:
  *
  *  - token/quality metrics: pure per-row column arithmetic (one
  *    codegen stage, no shuffle).
  *  - exact dedup: hash-groupBy on a content digest (one shuffle on
  *    the digest — the canonical scalable exact-dedup shape).
  *  - near-dup: token-shingle inverted-index self-join → per-pair
  *    intersection counts → Jaccard. The shingle join IS the
  *    scalable candidate generator (pairs with J ≥ τ > 0 must share
  *    a shingle); at 100 TB you put a document-frequency cutoff on
  *    hot shingles and a MinHash prefilter in front — both
  *    implemented in [[MinHashDedup]].
  */
object TextOps {

  private def r6(c: Column): Column = round(c, 6)

  /** Whitespace tokens (corpus is single-spaced lowercase; verified). */
  private def tokenized(docs: DataFrame): DataFrame =
    docs.withColumn("w", split(col("text"), " "))

  /** Distinct HASHED word 3-shingles per doc as `array<long>` plus the
    * distinct-shingle count `n` — the compact representation every
    * dedup pipeline (exact near-dup, MinHash, LSH recheck) works from.
    *
    * Tokens hash once (xxhash64 per token), each consecutive triple
    * hashes once more (xxhash64 over the three longs) — no shingle
    * STRINGS are ever materialized, so the dominant cost drops from
    * |tokens|·shingle-width string building to 2·|tokens| long hashes,
    * and everything downstream (distinct, joins, intersections) runs
    * on 8-byte keys. The hash/distinct/sort chain is the native
    * [[graft.functions.HashedNgrams]] kernel (one primitive loop per
    * row in WholeStageCodegen, bit-identical to the HOF formulation
    * it replaced, which paid boxed-lambda evaluation per token).
    * Collisions: two distinct token triples collide
    * with p ≈ |shingles|²/2⁶⁵ (~1e-11 here); a collision can only
    * merge two shingles, which inflates an intersection by at most
    * one — w.h.p. nothing observable, and candidate generation is
    * re-checked exactly over these same hashes, so LSH vs exact
    * comparisons stay internally consistent. */
  private[graft] def hashedShingleArrays(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    tokenized(docs)
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), expr("graft_hashed_ngrams(w, 3)").as("hs"))
      .withColumn("n", size(col("hs")).cast("long"))
  }

  /** Broadcast-hint a join side only when its estimated in-memory size
    * fits comfortably on the driver/executors. Hard-coding the hint is
    * wrong at the 100 TB design point (distinct shingles and candidate
    * sets grow with the corpus); gating on an estimate keeps the local
    * plan optimal and degrades to a shuffle hash join at scale. */
  private[graft] val BroadcastBytesLimit: Long = 64L << 20
  private[graft] def maybeBroadcast(df: DataFrame, estBytes: Long): DataFrame =
    if (estBytes <= BroadcastBytesLimit) broadcast(df) else df

  /** [[hashedShingleArrays]] over the documents table, memoized +
    * persisted per (application, sf dir): the exact near-dup queries
    * and the MinHash/LSH sketch queries all start from this one
    * cached frame, so a session benches the shingle computation ONCE.
    * Materialization doubles as the stats pass — doc count and total
    * postings come back from the same single job and feed the
    * broadcast-size gates downstream. */
  private val shCache = graft.SessionCaches.memo[(DataFrame, Long, Long)]

  /** Returns (hashed-shingle frame, nDocs, total postings). */
  private[graft] def hashedShinglesStats(s: SparkSession, dir: String): (DataFrame, Long, Long) =
    shCache(s, dir) {
      val df = hashedShingleArrays(Tables.fanOut(Tables.documents(s, dir))).persist()
      val r = df.agg(count(lit(1)), coalesce(sum(col("n")), lit(0L))).head()
      (df, r.getLong(0), r.getLong(1))
    }

  private[graft] def hashedShingles(s: SparkSession, dir: String): DataFrame =
    hashedShinglesStats(s, dir)._1

  /** Per-(doc, token) term counts `(doc_id, source, tok, tf)` —
    * memoized + persisted per (application, sf dir) exactly like the
    * shingle cache. Every corpus-analysis query (word frequencies,
    * per-source vocabulary, TF-IDF) is a small reduction over this one
    * frame, so a session pays the tokenize→explode→count shuffle ONCE;
    * the frame is |distinct (doc, token)| rows (partial aggregation
    * absorbs within-doc repetition before the shuffle). At the 100 TB
    * design point this is the intermediate a pipeline would land as a
    * table; session-scoped persist is the local analog. */
  private val tcCache = graft.SessionCaches.memo[DataFrame]

  /** Materialize the session-shared cached intermediates (hashed
    * shingles, token counts, the J ≥ 0.5 pair list) — Bench calls
    * this as its explicit `cache_warm_shared` entry so the one-time
    * cost is visible but never misattributed to whichever consumer
    * happens to run first. */
  private[graft] def tokenCounts(s: SparkSession, dir: String): DataFrame =
    tcCache(s, dir) {
      val df = tokenized(Tables.documents(s, dir))
        .select(col("doc_id"), col("source"), explode(col("w")).as("tok"))
        .groupBy(col("doc_id"), col("source"), col("tok"))
        .agg(count(lit(1)).as("tf"))
        .persist()
      df.count() // pin to one evaluation before fan-out
      df
    }

  // ---------------------------------------------------------------- tokens
  /** Token counting — whitespace tokenization + distinct counts. */
  val tokenStats: Q = Q("text_token_stats",
    """SELECT doc_id, n_chars,
      |  len(string_split(text, ' ')) AS n_tokens,
      |  len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
      |  ROUND(CAST(n_chars - (len(string_split(text, ' ')) - 1) AS DOUBLE)
      |        / len(string_split(text, ' ')), 6) AS avg_token_len
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    tokenized(Tables.documents(s, dir))
      .select(
        col("doc_id"), col("n_chars"),
        size(col("w")).cast("long").as("n_tokens"),
        size(array_distinct(col("w"))).cast("long").as("n_distinct_tokens"),
        r6((col("n_chars") - (size(col("w")) - lit(1))).cast("double") / size(col("w")))
          .as("avg_token_len"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------- quality
  /** Quality scoring: length/stopword/distinctness signals combined
    * into one deterministic score — the classic pre-training corpus
    * filter, as pure column arithmetic. */
  val quality: Q = Q("text_quality",
    """WITH t AS (
      |  SELECT doc_id, n_chars, string_split(text, ' ') AS w FROM documents
      |), m AS (
      |  SELECT doc_id, n_chars,
      |    len(w) AS n_tokens,
      |    len(list_filter(w, x -> x = 'the' OR x = 'a')) AS n_stop,
      |    len(list_distinct(w)) AS n_distinct
      |  FROM t
      |)
      |SELECT doc_id, n_tokens, n_stop,
      |  ROUND(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stopword_ratio,
      |  ROUND(CAST(n_distinct AS DOUBLE) / n_tokens, 6) AS distinct_ratio,
      |  ROUND(((CAST(0.4 AS DOUBLE) * least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0))
      |    + (CAST(0.3 AS DOUBLE) * (1.0 - (CAST(n_stop AS DOUBLE) / n_tokens))))
      |    + (CAST(0.3 AS DOUBLE) * (CAST(n_distinct AS DOUBLE) / n_tokens)), 6) AS quality_score
      |FROM m ORDER BY doc_id""".stripMargin) { (s, dir) =>
    qualityScores(Tables.documents(s, dir)).orderBy(col("doc_id"))
  }

  /** The per-doc heuristic quality frame behind [[quality]] — THE one
    * spelling of the length/stopword/distinctness composite, shared
    * with the quality-weighted curriculum so the two can never score
    * differently. One tokenize map pass, no shuffle. */
  private[graft] def qualityScores(docs: DataFrame): DataFrame = {
    val nTokens   = size(col("w"))
    val nStop     = size(filter(col("w"), x => x === "the" || x === "a"))
    val nDistinct = size(array_distinct(col("w")))
    tokenized(docs)
      .select(col("doc_id"),
        nTokens.cast("long").as("n_tokens"),
        nStop.cast("long").as("n_stop"),
        r6(nStop.cast("double") / nTokens).as("stopword_ratio"),
        r6(nDistinct.cast("double") / nTokens).as("distinct_ratio"),
        r6((lit(0.4) * least(nTokens.cast("double") / lit(50.0), lit(1.0))
          + lit(0.3) * (lit(1.0) - (nStop.cast("double") / nTokens)))
          + lit(0.3) * (nDistinct.cast("double") / nTokens)).as("quality_score"))
  }

  // ---------------------------------------------------------------- lang id
  /** Language ID via marker-token scoring (n-gram heuristic class).
    * Deterministic scoring over small marker dictionaries; 'und' when
    * no marker hits. Compared against the labeled `lang` column. */
  val langId: Q = Q("text_lang_id",
    """WITH t AS (
      |  SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
      |), sc AS (
      |  SELECT doc_id, lang,
      |    len(list_filter(w, x -> x = 'the' OR x = 'a' OR x = 'of')) AS s_en,
      |    len(list_filter(w, x -> x = 'der' OR x = 'die' OR x = 'das')) AS s_de,
      |    len(list_filter(w, x -> x = 'le' OR x = 'la' OR x = 'les')) AS s_fr,
      |    len(list_filter(w, x -> x = 'el' OR x = 'los' OR x = 'las')) AS s_es
      |  FROM t
      |)
      |SELECT doc_id, lang,
      |  CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0 THEN 'en'
      |       WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
      |       WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
      |       WHEN s_es > 0 THEN 'es'
      |       ELSE 'und' END AS pred_lang,
      |  s_en, s_de, s_fr, s_es
      |FROM sc ORDER BY doc_id""".stripMargin) { (s, dir) =>
    def markers(words: String*) =
      size(filter(col("w"), x => words.map(x === _).reduce(_ || _))).cast("long")
    tokenized(Tables.documents(s, dir))
      .select(col("doc_id"), col("lang"),
        markers("the", "a", "of").as("s_en"),
        markers("der", "die", "das").as("s_de"),
        markers("le", "la", "les").as("s_fr"),
        markers("el", "los", "las").as("s_es"))
      .withColumn("pred_lang",
        when(col("s_en") >= col("s_de") && col("s_en") >= col("s_fr")
          && col("s_en") >= col("s_es") && col("s_en") > 0, "en")
        .when(col("s_de") >= col("s_fr") && col("s_de") >= col("s_es") && col("s_de") > 0, "de")
        .when(col("s_fr") >= col("s_es") && col("s_fr") > 0, "fr")
        .when(col("s_es") > 0, "es")
        .otherwise("und"))
      .select(col("doc_id"), col("lang"), col("pred_lang"),
        col("s_en"), col("s_de"), col("s_fr"), col("s_es"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------- fingerprint
  /** Document fingerprinting: content digest of raw + normalized
    * text (md5 — stable across engines). */
  val fingerprint: Q = Q("text_fingerprint",
    """SELECT doc_id, md5(text) AS fp,
      |  md5(trim(lower(text))) AS fp_norm,
      |  substr(md5(text), 1, 16) AS fp_prefix
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"),
        md5(col("text")).as("fp"),
        md5(trim(lower(col("text")))).as("fp_norm"),
        substring(md5(col("text")), 1, 16).as("fp_prefix"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------- dedup
  /** Exact dedup: hash-groupBy on the content digest; keeper = min
    * doc_id per group. One shuffle on the digest, scales linearly. */
  val dedupExact: Q = Q("text_dedup_exact",
    """SELECT md5(text) AS fp, COUNT(*) AS n_copies, MIN(doc_id) AS keeper_doc_id
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .groupBy(md5(col("text")).as("fp"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper_doc_id"))
      .orderBy(col("fp"))
  }

  /** Rarest-first PPJoin prefix over the shared hashed-shingle cache:
    * `(doc_id, n, rk, h)` rows for each doc's first n − ⌈τ·n⌉ + 1
    * shingles under the (df asc, h) global order — the candidate-
    * generation index every prefix-filtered dedup flavor (symmetric
    * Jaccard, containment, incremental) starts from. Unpersisted;
    * callers own persistence for their own join DAGs. */
  private[queries] def rarestFirstPrefix(s: SparkSession, dir: String,
                                         tau: Double): DataFrame = {
    val (hsArr, _, postings) = hashedShinglesStats(s, dir)
    val sh = hsArr.select(col("doc_id"), col("n"), explode(col("hs")).as("h"))
    val freq = maybeBroadcast(
      sh.groupBy(col("h")).agg(count(lit(1)).as("df")),
      estBytes = postings * 16)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("h"))
    sh.join(freq, "h")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= col("n") - ceil(col("n") * lit(tau)) + 1)
      .select(col("doc_id"), col("n"), col("rk"), col("h"))
  }

  /** Exact 3-shingle Jaccard ≥ 0.5 pairs, memoized + persisted per
    * (application, sf dir): several queries consume the same pair
    * list (pair report, keeper filter), so the expensive
    * inverted-index join materializes once — the "materialized
    * intermediate" a production dedup pipeline would keep anyway. */
  private val pairCache = graft.SessionCaches.memo[DataFrame]

  private[graft] def nearDupPairs05(s: SparkSession, dir: String): DataFrame =
    pairCache(s, dir) {
      // AllPairs/PPJoin prefix filtering, exact for J >= 0.5: under
      // any global shingle ordering, two sets with Jaccard >= τ must
      // share a shingle among each one's first n−⌈τ·n⌉+1 (= ⌊n/2⌋+1)
      // shingles. Ordering by ascending corpus frequency puts the
      // RAREST shingles in the prefix, so the inverted index joins on
      // rare tokens only — candidates collapse from Σ df² over all
      // shingles to Σ df² over rare ones. The full intersection is
      // then recomputed exactly, but only for candidate pairs.
      // Everything runs on the shared hashed-shingle frame
      // ([[hashedShingles]]): every shuffle, sort, and join key is an
      // 8-byte long, shingle strings are never materialized, and the
      // one CPU-heavy shingling pass is computed (and cached) once per
      // session for ALL dedup pipelines. The intermediates below
      // (inverted index, prefix, candidates) each feed several
      // downstream branches; without an explicit cache each branch
      // re-evaluates the whole upstream chain (self-joins defeat
      // exchange reuse because attribute dedup re-ids one side), so
      // the candidate DAG would run 4-6×. Cache + eager count pins
      // each shared intermediate to exactly one evaluation, and each
      // is unpersisted as soon as its consumers have materialized.
      val hsArr = hashedShingles(s, dir)
      // Prefix index from the shared builder ([[rarestFirstPrefix]]):
      // at τ = 0.5 each doc keeps its ⌊n/2⌋+1 rarest shingles.
      val prefix = rarestFirstPrefix(s, dir, 0.5).persist()
      prefix.count() // self-join below would otherwise evaluate it twice
      // Candidate pairs, pruned in the join itself by the two other
      // PPJoin bounds (both exact for J >= 0.5, both integer-only):
      //  - length filter: J <= min(n1,n2)/max(n1,n2), so a qualifying
      //    pair has max(n) <= 2·min(n).
      //  - positional filter: J >= 1/2 needs overlap i with 3i >=
      //    n1+n2; at a pair's FIRST shared prefix shingle (ranks rk1,
      //    rk2 in the shared global order) the remaining overlap is at
      //    most min(n1-rk1, n2-rk2)+1. Later shared shingles of a true
      //    pair may fail this bound, but the first never does, so the
      //    pair always survives the subsequent distinct.
      val cands = prefix.as("a")
        .join(prefix.as("b"), col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id")
          && greatest(col("a.n"), col("b.n")) <= least(col("a.n"), col("b.n")) * 2
          && (least(col("a.n") - col("a.rk"), col("b.n") - col("b.rk")) + 1) * 3
             >= col("a.n") + col("b.n"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .distinct()
      // cands flows into exactly ONE consumer (the recheck below), so
      // it stays lazy — an eager persist here would only add a full
      // materialization barrier. prefix must remain pinned until the
      // recheck job (which re-reads it through cands) completes.
      // Exact intersection per CANDIDATE PAIR via the native
      // two-pointer merge over the (sorted) hashed-shingle arrays —
      // codegen'd, no per-row hash set or output array
      // ([[graft.functions.SortedIntersectCount]]). This replaces a
      // second inverted-index self-join + huge groupBy: cost becomes
      // |cands| × O(n) linear merges instead of a Σdf² shuffle.
      // No broadcast hint: hsArr is cached so AQE has exact stats and
      // picks broadcast while it fits, shuffle joins on d1/d2 past
      // that; at extreme corpus sizes a candidate-id semi-join prune
      // of hsArr in front of these joins cuts the shuffled volume.
      graft.functions.GraftFunctions.register(s)
      val j = col("i").cast("double") / ((col("x.n") + col("y.n")) - col("i"))
      val pairs = cands
        .join(hsArr.as("x"), col("d1") === col("x.doc_id"))
        .join(hsArr.as("y"), col("d2") === col("y.doc_id"))
        .withColumn("i", expr("graft_sorted_intersect(x.hs, y.hs)"))
        .filter(j >= 0.5)
        .select(col("d1"), col("d2"), col("i"), j.as("jaccard"))
        .persist()
      pairs.count()
      prefix.unpersist()
      pairs
    }

  /** Near-dup pairs by exact 3-shingle Jaccard ≥ 0.5, candidates from
    * the shingle inverted-index self-join. */
  val dedupNear: Q = Q("text_dedup_near",
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |words AS (SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS i FROM tok),
      |sh0 AS (SELECT doc_id,
      |         word || ' ' || lead(word, 1) OVER win || ' ' || lead(word, 2) OVER win AS s,
      |         lead(word, 2) OVER win AS w2
      |        FROM words WINDOW win AS (PARTITION BY doc_id ORDER BY i)),
      |sh AS (SELECT DISTINCT doc_id, s FROM sh0 WHERE w2 IS NOT NULL),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
      |SELECT d1, d2, i AS n_shared,
      |  ROUND(CAST(i AS DOUBLE) / ((x.n + y.n) - i), 6) AS jaccard
      |FROM inter JOIN sizes x ON d1 = x.doc_id JOIN sizes y ON d2 = y.doc_id
      |WHERE CAST(i AS DOUBLE) / ((x.n + y.n) - i) >= 0.5
      |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
    nearDupPairs05(s, dir)
      .select(col("d1"), col("d2"), col("i").as("n_shared"), r6(col("jaccard")).as("jaccard"))
      .orderBy(col("d1"), col("d2"))
  }

  /** The exact J ≥ 0.5 near-pair list as a spliceable oracle CTE
    * chain ending in `np(d1, d2)` — shared by the split-leakage audit
    * and the cross-modal joint dedup (identical texts share all
    * shingles, so exact duplicates appear at J = 1: the chain covers
    * both dup classes). */
  private[graft] def nearPairOracleCtes: String = nearPairOracleCtes("1 = 1")
  private[graft] def nearPairOracleCtes(where: String): String =
    s"""tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE ($where)),
      |words AS (SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS i FROM tok),
      |sh0 AS (SELECT doc_id,
      |         word || ' ' || lead(word, 1) OVER win || ' ' || lead(word, 2) OVER win AS s,
      |         lead(word, 2) OVER win AS w2
      |        FROM words WINDOW win AS (PARTITION BY doc_id ORDER BY i)),
      |sh AS (SELECT DISTINCT doc_id, s FROM sh0 WHERE w2 IS NOT NULL),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |np AS (SELECT d1, d2 FROM inter JOIN sizes x ON d1 = x.doc_id JOIN sizes y ON d2 = y.doc_id
      |       WHERE CAST(i AS DOUBLE) / ((x.n + y.n) - i) >= 0.5)""".stripMargin

  /** Train/validation LEAKAGE AUDIT — the data-hygiene check every
    * training run needs before trusting its eval: under the standard
    * content-hash split (md5 bucket, val = top 10%), report every VAL
    * document that has a duplicate in TRAIN — near-dups at J ≥ 0.5,
    * which at J = 1 includes exact duplicates — with its train-dup
    * count and smallest offending partner. A leaked val doc's eval
    * loss is memorization, not generalization; the actionable output
    * is exactly this drop list.
    *
    * Scale shape: rides the memoized pair list (the materialized
    * intermediate every dedup consumer shares) + two id-keyed
    * equi-joins against the split frame (corpus-scaled — no broadcast
    * hint) + one group on the val id. The split is the same portable
    * md5 bucket as `text_sample_stratified`, so the oracle replays
    * split, pairs, and the report exactly. */
  val splitLeakage: Q = Q("text_split_leakage",
    "WITH " + nearPairOracleCtes + """,
      |b AS (SELECT doc_id,
      |        CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100
      |          AS bucket
      |      FROM documents),
      |e AS (SELECT d1 AS v, d2 AS t FROM np UNION ALL SELECT d2 AS v, d1 AS t FROM np)
      |SELECT e.v AS doc_id, COUNT(*) AS n_train_dups, MIN(e.t) AS min_train_partner
      |FROM e JOIN b bv ON bv.doc_id = e.v JOIN b bt ON bt.doc_id = e.t
      |WHERE bv.bucket >= 90 AND bt.bucket < 90
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val bucket = expr(
      "cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint) % 100")
    val b = Tables.documents(s, dir).select(col("doc_id"), bucket.as("bucket"))
    val p = nearDupPairs05(s, dir).select(col("d1"), col("d2"))
    val e = p.select(col("d1").as("v"), col("d2").as("t"))
      .unionByName(p.select(col("d2").as("v"), col("d1").as("t")))
    e.join(b.filter(col("bucket") >= 90).select(col("doc_id").as("v")), Seq("v"))
      .join(b.filter(col("bucket") < 90).select(col("doc_id").as("t")), Seq("t"))
      .groupBy(col("v"))
      .agg(count(lit(1)).as("n_train_dups"), min(col("t")).as("min_train_partner"))
      .select(col("v").as("doc_id"), col("n_train_dups"), col("min_train_partner"))
      .orderBy(col("doc_id"))
  }

  /** 64-bit rolling-hash fingerprints via the native codegen'd
    * [[graft.functions.RollingHash]] expression, registered as a SQL
    * function. Fully oracle-checked: the hash is a plain polynomial
    * fold (h·31 + byte in wrapping 64-bit arithmetic), which the
    * DuckDB oracle replays per character with a HUGEINT accumulator
    * mod 2⁶⁴ (corpus is ASCII, so codepoint = byte) — bit-equality
    * also pinned against the Scala reference in ScalaTest. */
  val fingerprint64: Q = Q("text_fingerprint64",
    """WITH f AS (
      |  SELECT doc_id,
      |    CASE WHEN length(text) = 0 THEN 0::HUGEINT ELSE list_reduce(
      |      list_transform(range(1, length(text) + 1),
      |                     i -> CAST(ord(substr(text, i, 1)) AS HUGEINT)),
      |      (acc, x) -> (acc * 31 + x) % 18446744073709551616::HUGEINT) END AS h,
      |    CASE WHEN length(text) = 0 THEN 0::HUGEINT ELSE list_reduce(
      |      list_transform(range(1, length(lower(text)) + 1),
      |                     i -> CAST(ord(substr(lower(text), i, 1)) AS HUGEINT)),
      |      (acc, x) -> (acc * 31 + x) % 18446744073709551616::HUGEINT) END AS hn
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
      |            THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT) AS fp64,
      |  CAST(CASE WHEN hn >= 9223372036854775808::HUGEINT
      |            THEN hn - 18446744073709551616::HUGEINT ELSE hn END AS BIGINT) AS fp64_norm
      |FROM f ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.functions.GraftFunctions.register(s)
    Tables.documents(s, dir)
      .selectExpr("doc_id", "graft_fingerprint64(text) AS fp64",
        "graft_fingerprint64(lower(text)) AS fp64_norm")
      .orderBy(col("doc_id"))
  }

  /** Corpus word frequencies (the canonical explode → groupBy text
    * op): top-50 tokens with doc frequency. */
  val wordCount: Q = Q("text_wordcount",
    """SELECT w AS token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
      |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
      |GROUP BY 1 ORDER BY tf DESC, token LIMIT 50""".stripMargin) { (s, dir) =>
    // Over the shared (doc, token) counts: tf = Σ per-doc counts, df =
    // row count (the frame is already distinct per (doc, token)) — the
    // expensive corpus-wide shuffle happens once in [[tokenCounts]],
    // and the COUNT(DISTINCT doc_id) expand disappears entirely.
    tokenCounts(s, dir)
      .groupBy(col("tok").as("token"))
      .agg(sum(col("tf")).as("tf"), count(lit(1)).as("df"))
      .orderBy(col("tf").desc, col("token"))
      .limit(50)
  }

  /** End-to-end dedup output: the retained corpus after near-dup
    * removal — greedy keeper policy "drop any doc that near-matches a
    * lower doc_id" (one pass over the pair list; at scale the pair
    * list is orders of magnitude smaller than the corpus, so this is
    * a broadcast anti-join against the scan). */
  val dedupKeep: Q = Q("text_dedup_keep",
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |words AS (SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS i FROM tok),
      |sh0 AS (SELECT doc_id,
      |         word || ' ' || lead(word, 1) OVER win || ' ' || lead(word, 2) OVER win AS s,
      |         lead(word, 2) OVER win AS w2
      |        FROM words WINDOW win AS (PARTITION BY doc_id ORDER BY i)),
      |sh AS (SELECT DISTINCT doc_id, s FROM sh0 WHERE w2 IS NOT NULL),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |dups AS (SELECT DISTINCT d2 FROM inter
      |         JOIN sizes x ON d1 = x.doc_id JOIN sizes y ON d2 = y.doc_id
      |         WHERE CAST(i AS DOUBLE) / ((x.n + y.n) - i) >= 0.5)
      |SELECT doc_id, lang, source, n_chars FROM documents
      |WHERE doc_id NOT IN (SELECT d2 FROM dups)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val pairs = nearDupPairs05(s, dir)
    val dropIds = pairs.select(col("d2").as("doc_id")).distinct()
    // The drop list is bounded by the pair count, which the memoized
    // pair frame has already materialized — gate the broadcast on it
    // (a high-duplication corpus at the 100 TB design point can have
    // a drop list proportional to the corpus, where a forced hint
    // would OOM; the anti-join then shuffles on doc_id instead).
    val anti =
      if (pairs.count() * 16 <= BroadcastBytesLimit) broadcast(dropIds) else dropIds
    docs.join(anti, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Asymmetric containment dedup: ordered pairs (d1 ≈⊂ d2) with
    * |sh(d1) ∩ sh(d2)| / |sh(d1)| ≥ 0.6 — the "document swallowed by
    * a concatenation or quote" case symmetric Jaccard misses (a short
    * doc pasted into one 10× its size has Jaccard ≈ 0.1 but
    * containment ≈ 1.0; cf. the suffix-array containment pass in
    * deduplication pipelines). Candidate generation prefix-filters
    * the CONTAINED side only: a pair with overlap ≥ ⌈τ·n1⌉ must share
    * one of d1's first n1 − ⌈τ·n1⌉ + 1 shingles in any fixed global
    * order (rarest-first, so prefixes hit the shortest posting
    * lists), joined against the full inverted index of the containing
    * side under the n2 ≥ τ·n1 size bound; exact recheck via the
    * native two-pointer merge on the cached sorted-hash arrays. At
    * τ = 0.6 the prefix is ~0.4·n1 — candidates stay posting-list
    * bounded, never all-pairs, so the shape survives 100 TB the same
    * way the Jaccard PPJoin does. */
  val dedupContainment: Q = Q("text_dedup_containment",
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |words AS (SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS i FROM tok),
      |sh0 AS (SELECT doc_id,
      |         word || ' ' || lead(word, 1) OVER win || ' ' || lead(word, 2) OVER win AS s,
      |         lead(word, 2) OVER win AS w2
      |        FROM words WINDOW win AS (PARTITION BY doc_id ORDER BY i)),
      |sh AS (SELECT DISTINCT doc_id, s FROM sh0 WHERE w2 IS NOT NULL),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id GROUP BY 1, 2)
      |SELECT d1, d2, i AS n_shared,
      |  ROUND(CAST(i AS DOUBLE) / x.n, 6) AS containment
      |FROM inter JOIN sizes x ON d1 = x.doc_id
      |WHERE CAST(i AS DOUBLE) / x.n >= 0.6
      |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
    val Tau = 0.6
    graft.functions.GraftFunctions.register(s)
    val hsArr = hashedShingles(s, dir)
    val sh = hsArr.select(col("doc_id"), col("n"), explode(col("hs")).as("h"))
    // overlap needed: t = ⌈τ·n1⌉ → prefix length n1 − t + 1, from the
    // shared rarest-first builder
    val prefix = rarestFirstPrefix(s, dir, Tau)
      .select(col("doc_id").as("d1"), col("n").as("n1"), col("h"))
    val cands = prefix
      .join(sh.select(col("doc_id").as("d2"), col("n").as("n2"), col("h")), Seq("h"))
      .filter(col("d1") =!= col("d2") && col("n2") >= col("n1") * lit(Tau))
      .select(col("d1"), col("d2")).distinct()
    val c = col("i").cast("double") / col("x.n")
    cands
      .join(hsArr.as("x"), col("d1") === col("x.doc_id"))
      .join(hsArr.as("y"), col("d2") === col("y.doc_id"))
      .withColumn("i", expr("graft_sorted_intersect(x.hs, y.hs)"))
      .filter(c >= Tau)
      .select(col("d1"), col("d2"), col("i").as("n_shared"), r6(c).as("containment"))
      .orderBy(col("d1"), col("d2"))
  }

  /** INCREMENTAL dedup — the streaming-ingest shape of the reference's
    * core loop (score each ARRIVING record against existing state)
    * applied to near-dup detection: the corpus (doc_id below the 90%
    * split) is the existing indexed collection; the new batch (top
    * 10% of doc_ids) is deduped against corpus ∪ batch WITHOUT ever
    * recomputing a corpus×corpus join. Candidate generation joins the
    * BATCH side's rarest-first prefix against the full prefix index
    * (the persisted artifact of [[rarestFirstPrefix]]; here it comes
    * off the session cache) — the work is bounded by the batch's
    * posting lists, so a continuously-ingesting 100 TB pipeline pays
    * per-batch cost, not per-corpus. Because new doc_ids are the
    * highest, every emitted pair has its new doc on the d2 side, so
    * the result is EXACTLY the full pair list restricted to
    * `d2 >= split` — which is what the oracle computes brute-force
    * and DedupSpec pins against the full PPJoin list. */
  val dedupIncremental: Q = Q("text_dedup_incremental",
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |words AS (SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS i FROM tok),
      |sh0 AS (SELECT doc_id,
      |         word || ' ' || lead(word, 1) OVER win || ' ' || lead(word, 2) OVER win AS s,
      |         lead(word, 2) OVER win AS w2
      |        FROM words WINDOW win AS (PARTITION BY doc_id ORDER BY i)),
      |sh AS (SELECT DISTINCT doc_id, s FROM sh0 WHERE w2 IS NOT NULL),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      |sp AS (SELECT MAX(doc_id) * 9 // 10 AS split_id FROM documents),
      |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
      |SELECT d1, d2, i AS n_shared,
      |  ROUND(CAST(i AS DOUBLE) / ((x.n + y.n) - i), 6) AS jaccard
      |FROM inter JOIN sizes x ON d1 = x.doc_id JOIN sizes y ON d2 = y.doc_id
      |CROSS JOIN sp
      |WHERE CAST(i AS DOUBLE) / ((x.n + y.n) - i) >= 0.5 AND d2 >= split_id
      |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
    incrementalPairs(s, dir)
  }

  private val incrCache = graft.SessionCaches.memo[DataFrame]

  /** Body of [[dedupIncremental]], memoized + persisted like
    * [[nearDupPairs05]] (the pair list is small; the prefix index is
    * unpersisted once it materializes). */
  private[queries] def incrementalPairs(s: SparkSession, dir: String): DataFrame =
    incrCache(s, dir) {
      graft.functions.GraftFunctions.register(s)
      val hsArr = hashedShingles(s, dir)
      val split = Tables.documents(s, dir)
        .agg(expr("max(doc_id) * 9 div 10").as("split_id"))
      val prefix = rarestFirstPrefix(s, dir, 0.5).persist()
      prefix.count() // the "index": evaluated once, both join sides read it
      // batch side = new docs only; the a-side stays the FULL index, so
      // corpus×corpus pairs are never generated
      val batch = prefix.crossJoin(broadcast(split))
        .filter(col("doc_id") >= col("split_id"))
        .select(col("doc_id"), col("n"), col("rk"), col("h"))
      val cands = prefix.as("a")
        .join(batch.as("b"), col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id")
          && greatest(col("a.n"), col("b.n")) <= least(col("a.n"), col("b.n")) * 2
          && (least(col("a.n") - col("a.rk"), col("b.n") - col("b.rk")) + 1) * 3
             >= col("a.n") + col("b.n"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .distinct()
      val j = col("i").cast("double") / ((col("x.n") + col("y.n")) - col("i"))
      val out = cands
        .join(hsArr.as("x"), col("d1") === col("x.doc_id"))
        .join(hsArr.as("y"), col("d2") === col("y.doc_id"))
        .withColumn("i", expr("graft_sorted_intersect(x.hs, y.hs)"))
        .filter(j >= 0.5)
        .select(col("d1"), col("d2"), col("i").as("n_shared"), r6(j).as("jaccard"))
        .orderBy(col("d1"), col("d2"))
        .persist()
      out.count()
      prefix.unpersist()
      out
    }

  /** BPE-style pre-tokenization (runs-of-letters / runs-of-digits /
    * single other, the GPT-2 pre-tokenizer shape) next to whitespace
    * counting — the two token-count flavors a data pipeline reports. */
  val tokenBpe: Q = Q("text_token_bpe",
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS n_tokens_ws,
      |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_tokens_bpe,
      |  len(list_distinct(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS n_distinct_bpe
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val bpe = expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens_ws"),
        size(bpe).cast("long").as("n_tokens_bpe"),
        size(array_distinct(bpe)).cast("long").as("n_distinct_bpe"))
      .orderBy(col("doc_id"))
  }

  /** Per-source dedup-rate monitoring with MERGEABLE distinct
    * sketches — the 100 TB shape of "how duplicated is each feed":
    * every shard/source aggregates a Datasketches HLL over document
    * content (`hll_sketch_agg`, constant memory), and the global
    * distinct count is the UNION of the per-source sketches
    * (`hll_union_agg`) — no re-scan, no distinct shuffle; this
    * mergeability is what `approx_count_distinct`'s internal HLL++
    * does not expose. Exact per-source counts ride the same
    * aggregate as the accuracy certificate (oracle-checked), with
    * booleans pinning both the per-source estimates and the unioned
    * global estimate inside ±5% — an engine off by more flips a
    * boolean and fails the hash match. */
  val dupRateSketch: Q = Q("text_dup_rate_sketch",
    """WITH g AS (SELECT COUNT(DISTINCT text) AS ge FROM documents)
      |SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT text) AS n_distinct,
      |  TRUE AS within_5pct, TRUE AS union_within_5pct
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val d = Tables.documents(s, dir).select(col("source"), col("text"))
    val per = d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_distinct"),
        hll_sketch_agg(col("text")).as("sk"))
    // one-row global frame: unioned sketch vs exact global distinct
    val globalBound = per.agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("g_est"))
      .crossJoin(broadcast(d.agg(countDistinct(col("text")).as("g_exact"))))
      .select((abs(col("g_est") - col("g_exact")).cast("double") / col("g_exact")
        <= 0.05).as("union_within_5pct"))
    per
      .select(col("source"), col("n_docs"), col("n_distinct"),
        (abs(hll_sketch_estimate(col("sk")) - col("n_distinct")).cast("double")
          / col("n_distinct") <= 0.05).as("within_5pct"))
      .crossJoin(broadcast(globalBound))
      .orderBy(col("source"))
  }

  /** Distributed heavy hitters: exact top-20 tokens computed THROUGH
    * the [[graft.functions.FreqItemsSketch]] Misra-Gries aggregate —
    * one constant-memory pass over the token occurrences (map-side
    * partial sketches, mergeable combine; the raw occurrences are
    * never shuffled) yields ≤ 64 candidates, guaranteed to contain
    * every token with frequency > N/65; the candidate set is then
    * recounted EXACTLY and cut to the top 20. The recount is
    * CANDIDATE-FIRST: the shared token-counts frame joins to the
    * broadcast ≤ 64-token candidate list BEFORE the groupBy, so the
    * only vocab-keyed shuffle moves candidate rows — Catalyst cannot
    * push a join below an aggregate on its own, so ordering the plan
    * this way is what makes the "the key space itself is too hot to
    * shuffle" claim literally true in the physical plan (pinned in
    * PlanInvariantsSpec). The MG validity precondition — the 20th
    * recounted frequency must clear the N/(k+1) bound, else
    * candidates below it are run-nondeterministic — is asserted at
    * runtime on every output row (`assert_true`), so a corpus where
    * the sketch stops being exact fails loudly instead of silently
    * dropping a true top-20 token. */
  val topTokensSketch: Q = Q("text_top_tokens_sketch",
    """SELECT w AS token, COUNT(*) AS tf
      |FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |GROUP BY 1 ORDER BY tf DESC, token LIMIT 20""".stripMargin) { (s, dir) =>
    graft.functions.GraftFunctions.register(s)
    val cands = tokenized(Tables.documents(s, dir))
      .select(explode(col("w")).as("tok"))
      .agg(expr("graft_freq_items(tok, 64)").as("cand"))
      .select(explode(col("cand")).as("tok"))
    val total = tokenCounts(s, dir).agg(sum(col("tf")).as("n_total"))
    tokenCounts(s, dir)
      .join(broadcast(cands), Seq("tok")) // restrict BEFORE the aggregate
      .groupBy(col("tok")).agg(sum(col("tf")).as("tf"))
      .orderBy(col("tf").desc, col("tok"))
      .limit(20)
      .crossJoin(broadcast(total)) // 1-row anchor for the MG bound
      .filter(coalesce(assert_true(col("tf") * 65 > col("n_total"),
        concat(lit("Misra-Gries bound violated: top-20 token frequency "),
          col("tf").cast("string"), lit(" <= N/65 with N = "),
          col("n_total").cast("string"), lit(" — raise the sketch capacity k"))),
        lit(true)))
      .select(col("tok").as("token"), col("tf"))
      .orderBy(col("tf").desc, col("token"))
  }

  /** Corpus bigram counts `(w1, w2, c)` with their left-marginal
    * `(w1, m)`, memoized + persisted per (application, sf dir) with
    * the row count as broadcast-gate evidence — the bigram table is
    * O(V²)-bounded but corpus-driven, so it must degrade to a
    * shuffle join at web scale exactly like the unigram vocab. */
  private val bgCache = graft.SessionCaches.memo[(DataFrame, Long)]

  private def docBigrams(docs: DataFrame): DataFrame =
    tokenized(docs).filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(w) - 1),
          |  j -> struct(element_at(w, j) as w1, element_at(w, j + 1) as w2))""".stripMargin))
        .as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))

  private def bigramStats(s: SparkSession, dir: String): (DataFrame, Long) =
    bgCache(s, dir) {
      val c2 = docBigrams(Tables.fanOut(Tables.documents(s, dir)))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("w1"))
      val df = c2.withColumn("m", sum(col("c")).over(w)).persist()
      (df, df.count())
    }

  /** Bigram-LM quality score — the conditional-probability upgrade of
    * [[Curation.lmScore]]'s unigram filter: per doc, the mean
    * log P(wᵢ | wᵢ₋₁) under the corpus bigram distribution (the
    * denominator is the bigram LEFT-MARGINAL, not the raw unigram
    * count, so end-of-document occurrences don't skew the
    * conditional). Word salads that pass a unigram filter (all
    * frequent words, scrambled order) score low here — the cheapest
    * LM that sees word ORDER.
    *
    * Scale shape: doc bigrams are a shuffle-free map+explode; the
    * count table is ONE aggregate with its marginal as a window over
    * the same partitioning (no second shuffle); the score join rides
    * the [[maybeBroadcast]] gate on the memoized count-table size
    * (bigram vocab is effectively unbounded at 100 TB → shuffle
    * join past the gate); per-doc reduction is one groupBy. */
  val bigramLm: Q = Q("text_bigram_lm",
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |words AS (SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS i FROM tok),
      |bg AS (SELECT doc_id, word AS w1,
      |              lead(word) OVER (PARTITION BY doc_id ORDER BY i) AS w2
      |       FROM words),
      |b AS (SELECT doc_id, w1, w2 FROM bg WHERE w2 IS NOT NULL),
      |c2 AS (SELECT w1, w2, COUNT(*) AS c FROM b GROUP BY 1, 2),
      |lm AS (SELECT w1, SUM(c) AS m FROM c2 GROUP BY 1)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |       ROUND(AVG(ln(CAST(c AS DOUBLE) / m)), 6) AS avg_logp
      |FROM b JOIN c2 USING (w1, w2) JOIN lm USING (w1)
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val (bc, nBigrams) = bigramStats(s, dir)
    // ~64 B/row: two avg-length tokens + two longs + row overhead
    docBigrams(Tables.documents(s, dir))
      .join(maybeBroadcast(bc, nBigrams * 64), Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log(col("c").cast("double") / col("m"))), 6).as("avg_logp"))
      .orderBy(col("doc_id"))
  }

  /** Per-source token-length QUANTILES with a mergeable-sketch
    * accuracy certificate — the third classic sketch next to the HLL
    * dedup-rate monitor and the Misra-Gries heavy hitters: corpus
    * length distributions (the inputs to truncation budgets, packing
    * efficiency, and outlier filters) are monitored at 100 TB with a
    * quantile sketch, not an exact sort. Exact p50/p90/p99 per source
    * ride ONE aggregate (oracle-checked: DuckDB's quantile_cont uses
    * the same linear interpolation as Spark's percentile); the same
    * aggregate also runs `percentile_approx` — Spark's
    * QuantileSummaries (Greenwald-Khanna) sketch, partial-merged
    * across partitions exactly like a production monitor merges
    * per-shard sketches — and a boolean pins each approximation
    * inside the sketch's guarantee. The guarantee is RANK error, not
    * value error (a sparse tail puts adjacent order statistics far
    * apart in value at perfectly correct rank), so the certificate
    * re-ranks the sketch's answers against the data: the fraction of
    * lengths ≤ the approx value must reach q − ε, and the fraction
    * strictly below must not exceed q + ε. An engine whose sketch
    * merge drifts flips the boolean and fails the hash match. */
  val lengthQuantiles: Q = Q("text_length_quantiles",
    """SELECT source, COUNT(*) AS n_docs,
      |  ROUND(quantile_cont(len, 0.5), 6) AS p50,
      |  ROUND(quantile_cont(len, 0.9), 6) AS p90,
      |  ROUND(quantile_cont(len, 0.99), 6) AS p99,
      |  TRUE AS approx_within_bound
      |FROM (SELECT source, CAST(len(string_split(text, ' ')) AS DOUBLE) AS len
      |      FROM documents)
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val d = Tables.documents(s, dir)
      .select(col("source"),
        size(split(col("text"), " ")).cast("double").as("len"))
    val per = d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(expr("percentile(len, 0.5)"), 6).as("p50"),
        round(expr("percentile(len, 0.9)"), 6).as("p90"),
        round(expr("percentile(len, 0.99)"), 6).as("p99"),
        expr("approx_percentile(len, array(0.5, 0.9, 0.99), 1000)").as("ap"))
    val qs = Seq(0.5, 0.9, 0.99)
    def okAt(i: Int, q: Double) = {
      val n = count(lit(1)).cast("double")
      val le = sum(when(col("len") <= col("ap").getItem(i), 1).otherwise(0)).cast("double")
      val lt = sum(when(col("len") < col("ap").getItem(i), 1).otherwise(0)).cast("double")
      le / n >= q - 0.05 && lt / n <= q + 0.05
    }
    // per-source stats are broadcast-bounded (one row per source)
    d.join(broadcast(per), Seq("source"))
      .groupBy(col("source"))
      .agg(first(col("n_docs")).as("n_docs"), first(col("p50")).as("p50"),
        first(col("p90")).as("p90"), first(col("p99")).as("p99"),
        qs.zipWithIndex.map { case (q, i) => okAt(i, q) }.reduce(_ && _)
          .as("approx_within_bound"))
      .orderBy(col("source"))
  }

  /** Sub-shard fan-out of the per-source running sums below. */
  private[graft] final val PackSubShards = 16

  /** Scale-safe EXCLUSIVE per-source prefix sum ordered by doc_id —
    * the one primitive under the whole pack/emit/shuffle/forget
    * family. Adds `start_off` = Σ value over same-source rows with
    * smaller doc_id.
    *
    * A bare `Window.partitionBy(source).orderBy(doc_id)` sorts each
    * source's ENTIRE doc list in one task — fine when sources are
    * ingest shards, a scale-killer when one crawl dominates the
    * corpus (the common case). This is the two-level prefix-sum
    * device of [[shuffleOrder]]'s `shuffleRankCore` applied under
    * the source key: the sub-shard is a RANGE bucket of doc_id
    * (`⌊doc_id·16/(max_id+1)⌋` off a 1-row broadcast max anchor) —
    * range, not hash, because only a bucket MONOTONE in the sort
    * order lets per-bucket totals compose into an ordered running
    * sum (a hash bucket's contribution to a later doc's offset would
    * depend on the doc, not just the bucket). Level 1 runs the local
    * exclusive sum per (source, sub-shard) — each window task holds
    * ≤ 1/16 of a source (doc_ids are dense ingest sequence numbers,
    * so range buckets are balanced; a 100 TB run widens the fan-out
    * constant). Level 2 is a (source, sub-shard)-bounded totals
    * frame — ≤ 16·|sources| rows regardless of corpus size — whose
    * own exclusive sum rides a per-source window over ≤ 16 rows and
    * joins back BROADCAST. Offsets are arithmetic, not layout:
    * results are bit-identical to the single-window form, so every
    * oracle keeps the plain `SUM() OVER (PARTITION BY source ORDER
    * BY doc_id)` spelling.
    *
    * COST: the input lineage evaluates THREE times (max-id anchor,
    * the local-window branch, the totals branch) — the anchor and
    * totals branches prune to three narrow columns, so against a
    * parquet-backed or persisted upstream the re-reads are cheap
    * scans; a caller whose upstream is an EXPENSIVE unpersisted
    * computation (per-row tokenization, a wide join) should persist
    * or cut the lineage of the pruned `(source, doc_id, value, …)`
    * projection before calling, or the upstream re-pays per branch.
    *
    * `order` MUST lead with `doc_id`: the sub-shard is a doc_id
    * RANGE bucket, which is monotone in the window order only when
    * doc_id is the primary sort key — any other leading column would
    * compose bucket totals in the wrong order and produce silently
    * wrong offsets (asserted below). */
  private[graft] def sourcePrefixSum(df: DataFrame, value: Column,
                                     order: Seq[Column] = Seq(col("doc_id"))): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // match the column's NAME (last path segment), not its toString —
    // col("t.doc_id") and expr("doc_id").as("doc_id") are the doc_id
    // key too; the guard enforces the monotone-range-bucket property,
    // not a spelling
    require(order.headOption.exists(c =>
        org.apache.spark.sql.graftbridge.Bridge.columnLeafName(c).contains("doc_id")),
      s"sourcePrefixSum order must lead with doc_id (the range-bucket key); got $order")
    val anchor = broadcast(df.agg(max(col("doc_id")).as("graft_max_id")))
    // floor over double is weakly monotone in doc_id, which is all
    // bucketing needs (ties collapse into one bucket harmlessly);
    // doc_id leads every `order` this family uses, so a doc_id-range
    // bucket is monotone in the full lexicographic order too
    // Cost shape: the ONE corpus-width shuffle is the local window's
    // (source, sub) exchange — the payload columns (e.g. the redacted
    // text) ride only there. The totals branch re-reads the pruned
    // (source, doc_id, value) columns and map-side partial-aggregates
    // before its exchange, so it ships ≤ 16·|sources| rows per input
    // partition — a second SCAN of three narrow columns, never a
    // second corpus shuffle.
    val sub = df.crossJoin(anchor)
      .withColumn("graft_sub",
        floor(col("doc_id") * PackSubShards / (col("graft_max_id") + 1)).cast("long"))
      .drop("graft_max_id")
    val wLocal = Window.partitionBy(col("source"), col("graft_sub"))
      .orderBy(order: _*).rowsBetween(Window.unboundedPreceding, -1)
    val wSub = Window.partitionBy(col("source")).orderBy(col("graft_sub"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = sub.groupBy(col("source"), col("graft_sub"))
      .agg(sum(value).as("graft_tot"))
      .withColumn("graft_sub_off",
        coalesce(sum(col("graft_tot")).over(wSub), lit(0L)))
      .select(col("source"), col("graft_sub"), col("graft_sub_off"))
    sub
      .withColumn("graft_local_off", coalesce(sum(value).over(wLocal), lit(0L)))
      .join(broadcast(offs), Seq("source", "graft_sub"))
      .withColumn("start_off", col("graft_sub_off") + col("graft_local_off"))
      .drop("graft_sub", "graft_local_off", "graft_sub_off")
  }

  /** Sequence packing — the batch-assembly op that concatenates
    * documents (in a deterministic order) and cuts fixed-token-budget
    * training sequences: each doc lands in the sequence holding its
    * starting offset (`floor(prev_cumsum / budget)`), the standard
    * concat-then-chunk packing. Packing is PER SOURCE SHARD
    * (`PARTITION BY source`) and, under each source, per doc_id-range
    * SUB-SHARD ([[sourcePrefixSum]]) — the way a real pipeline packs
    * within an ingest shard, without betting the wall-clock on shard
    * balance. Pure integer window arithmetic → oracle-exact. */
  val packSequences: Q = Q("text_pack_sequences",
    """WITH t AS (
      |  SELECT source, doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
      |), o AS (
      |  SELECT source, doc_id, n_tokens,
      |    COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
      |  FROM t
      |)
      |SELECT source, CAST(start_off // 512 AS BIGINT) AS seq_id,
      |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
      |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM o GROUP BY 1, 2 ORDER BY source, seq_id""".stripMargin) { (s, dir) =>
    sourcePrefixSum(
      tokenized(Tables.documents(s, dir))
        .select(col("source"), col("doc_id"), size(col("w")).cast("long").as("n_tokens")),
      col("n_tokens"))
      .groupBy(col("source"), floor(col("start_off") / 512).as("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("seq_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("source"), col("seq_id"))
  }

  /** Per-document PACK OFFSETS — the random-access index a training
    * dataloader consumes next to the sequence manifest: where each
    * doc starts inside its sequence, and whether it straddles a
    * sequence boundary (the continuation case a loader must handle
    * when a doc's tokens spill into the next 512-token window). Same
    * single window as [[packSequences]] — the index and the manifest
    * are two projections of one running sum, so a pipeline emits
    * both in one pass. */
  val packOffsets: Q = Q("text_pack_offsets",
    """WITH t AS (
      |  SELECT source, doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
      |), o AS (
      |  SELECT source, doc_id, n_tokens,
      |    COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
      |  FROM t
      |)
      |SELECT source, CAST(start_off // 512 AS BIGINT) AS seq_id, doc_id,
      |  CAST(start_off % 512 AS BIGINT) AS offset_in_seq,
      |  CAST(n_tokens AS BIGINT) AS n_tokens,
      |  (start_off // 512 <> (start_off + n_tokens - 1) // 512) AS is_split
      |FROM o ORDER BY source, doc_id""".stripMargin) { (s, dir) =>
    sourcePrefixSum(
      tokenized(Tables.documents(s, dir))
        .select(col("source"), col("doc_id"), size(col("w")).cast("long").as("n_tokens")),
      col("n_tokens"))
      .select(col("source"), floor(col("start_off") / 512).as("seq_id"), col("doc_id"),
        (col("start_off") % 512).as("offset_in_seq"), col("n_tokens"),
        (floor(col("start_off") / 512) =!=
          floor((col("start_off") + col("n_tokens") - 1) / 512)).as("is_split"))
      .orderBy(col("source"), col("doc_id"))
  }

  /** Deterministic training-order SHUFFLE — the global random order a
    * training run actually consumes, derived from CONTENT, not RNG:
    * each packed sequence gets an md5 sort key, the key's leading hex
    * digit is its shard (a content-derived bucket — never Spark's
    * sampled range boundaries, which vary run to run), and the
    * emitted order is (shard, key) = the global md5 order, since the
    * shard is a prefix of the key. `randomSplit`/`rand()` orders are
    * partition-layout-dependent (per-partition RNG seeds); this order
    * is bit-identical on any engine, any partitioning, any rerun —
    * which is what makes a training run reproducible AND
    * oracle-checkable.
    *
    * Scale shape: the rank window partitions by shard (hash exchange
    * over 16 buckets here; a 100 TB run raises the prefix width so
    * each shard is a few GB — the exchange stays balanced because
    * md5 is uniform); the global offset of each shard comes from a
    * shard-count aggregate (16 rows — the only single-partition
    * window, bounded by shard count, never by data) joined back
    * broadcast; the final display sort rides Spark's range-exchange
    * sort, NEVER an Exchange SinglePartition over the data (pinned in
    * PlanInvariantsSpec). */
  val shuffleOrder: Q = Q("text_shuffle_order",
    """WITH t AS (
      |  SELECT source, doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
      |), o AS (
      |  SELECT source, doc_id, n_tokens,
      |    COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
      |  FROM t
      |), p AS (
      |  SELECT source, CAST(start_off // 512 AS BIGINT) AS seq_id,
      |    CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens
      |  FROM o GROUP BY 1, 2
      |), k AS (
      |  SELECT source, seq_id, seq_tokens,
      |    md5('shuffle:' || source || ':' || CAST(seq_id AS VARCHAR)) AS sort_key
      |  FROM p
      |), k2 AS (
      |  SELECT *, CAST(('0x' || substr(sort_key, 1, 1)) AS BIGINT) AS shard FROM k
      |)
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY sort_key) AS BIGINT) AS ord,
      |  shard,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY sort_key) AS BIGINT) AS pos,
      |  sort_key, source, seq_id, seq_tokens
      |FROM k2 ORDER BY ord""".stripMargin) { (s, dir) =>
    val packed = packRetained(tokenized(Tables.documents(s, dir))
      .select(col("source"), col("doc_id"), size(col("w")).cast("long").as("n_tokens")))
    shuffleRankCore(
      packed.select(col("source"), col("seq_id"), col("seq_tokens"))
        .withColumn("sort_key",
          md5(concat(lit("shuffle:"), col("source"), lit(":"), col("seq_id").cast("string")))),
      out = Seq(col("source"), col("seq_id"), col("seq_tokens")))
  }

  /** The shard/rank/offset machinery shared by [[shuffleOrder]] and
    * [[shuffleRankWindows]]: `keyed` carries an md5 `sort_key`; the
    * key's leading hex digit is its content-derived shard, per-shard
    * ranks ride a hash-partitioned window, shard offsets come from a
    * 16-row prefix sum joined back broadcast (the prefix-sum window
    * is bounded by the shard alphabet, not the data), and the display
    * sort rides a range exchange. The tie columns make the order
    * total when sort keys can collide (duplicate window content);
    * with unique keys they change nothing. */
  private[graft] def shuffleRankCore(keyed: DataFrame, out: Seq[Column],
                                     tie: Seq[Column] = Seq(col("source"), col("seq_id")),
                                     shardWidth: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // widening the prefix multiplies the shard alphabet by 16 per
    // char — the knob a 100 TB run turns so each shard's sort window
    // stays a few GB (fixed-width hex prefixes order like their
    // numeric values, so (shard, key) is still the global key order)
    val sharded = keyed
      .withColumn("shard",
        conv(substring(col("sort_key"), 1, shardWidth), 16, 10).cast("long"))
    val withPos = sharded.withColumn("pos",
      row_number().over(Window.partitionBy(col("shard"))
        .orderBy(col("sort_key") +: tie: _*)).cast("long"))
    val off = withPos.groupBy(col("shard")).agg(count(lit(1)).as("cnt"))
      .withColumn("offset", coalesce(sum(col("cnt")).over(
        Window.orderBy(col("shard")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("shard"), col("offset"))
    withPos.join(broadcast(off), Seq("shard"))
      .select((col("offset") + col("pos")).as("ord") +: col("shard") +: col("pos") +:
        col("sort_key") +: out: _*)
      .orderBy(col("ord"))
  }

  /** Deterministic stratified sampling by CONTENT HASH — the
    * reproducible subsampling a training-data pipeline needs: the
    * same document lands in the same split on every run, any engine,
    * any partitioning (unlike `df.sample`'s per-partition RNG, whose
    * draw depends on split layout). The strata here keep 20% of short
    * documents and 60% of long ones (length rebalancing); the md5
    * bucket in [0,100) is portable, so the exact sampled id set is
    * oracle-checked. Stateless per-row predicate → embarrassingly
    * parallel, pushes nothing but a scan at 100 TB. */
  val sampleStratified: Q = Q("text_sample_stratified",
    """SELECT doc_id, lang, n_chars,
      |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
      |FROM documents
      |WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100
      |      < CASE WHEN n_chars < 500 THEN 20 ELSE 60 END
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    // same 60-bit md5-prefix bucket on both engines (non-negative, so
    // % and DuckDB's % agree); threshold varies by the length stratum
    val bucket = expr(
      "cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint) % 100")
    Tables.documents(s, dir)
      .withColumn("bucket", bucket)
      .filter(col("bucket") < when(col("n_chars") < 500, 20).otherwise(60))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("bucket"))
      .orderBy(col("doc_id"))
  }

  /** Shared CTE chain of the composed-curation oracle — the FULL
    * published filter stack (CCNet / RefinedWeb / Dolma order) in one
    * DuckDB program: exact dedup → near dedup → prefix line scrub →
    * prefix span scrub → decontaminate → lang → quality → PII →
    * (pack). The line/span masks are the PREFIX-semantics
    * formulations of `text_dedup_lines_prefix` /
    * `text_dedup_spans_prefix` verbatim (decided at arrival, never
    * retracted), which is what makes the streaming twin share this
    * oracle for any ingest-ordered slicing; both masks are computed
    * over RAW token positions and applied as a UNION, so each stage's
    * mask equals its standalone query's exactly (pinned in
    * CurationStackSpec). */
  private[graft] def curationOracleBody: String =
    s"""WITH tok AS (
      |  SELECT doc_id, source, lang, md5(text) AS fp, string_split(text, ' ') AS w
      |  FROM documents
      |), toks AS (SELECT doc_id, unnest(w) AS tok, generate_subscripts(w, 1) - 1 AS pos FROM tok),
      |words AS (SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS i FROM tok),
      |nsh0 AS (SELECT doc_id,
      |         word || ' ' || lead(word, 1) OVER win || ' ' || lead(word, 2) OVER win AS s,
      |         lead(word, 2) OVER win AS w2
      |        FROM words WINDOW win AS (PARTITION BY doc_id ORDER BY i)),
      |nsh AS (SELECT DISTINCT doc_id, s FROM nsh0 WHERE w2 IS NOT NULL),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM nsh GROUP BY 1),
      |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
      |          FROM nsh a JOIN nsh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |neard AS (SELECT DISTINCT d2 FROM inter
      |          JOIN sizes x ON d1 = x.doc_id JOIN sizes y ON d2 = y.doc_id
      |          WHERE CAST(i AS DOUBLE) / ((x.n + y.n) - i) >= 0.5),
      |g0 AS (SELECT doc_id, word,
      |         lead(word, 1) OVER win8 AS w1, lead(word, 2) OVER win8 AS w2,
      |         lead(word, 3) OVER win8 AS w3, lead(word, 4) OVER win8 AS w4,
      |         lead(word, 5) OVER win8 AS w5, lead(word, 6) OVER win8 AS w6,
      |         lead(word, 7) OVER win8 AS w7
      |       FROM words WINDOW win8 AS (PARTITION BY doc_id ORDER BY i)),
      |g AS (SELECT DISTINCT doc_id,
      |        word || ' ' || w1 || ' ' || w2 || ' ' || w3 || ' ' || w4
      |          || ' ' || w5 || ' ' || w6 || ' ' || w7 AS s8
      |      FROM g0 WHERE w7 IS NOT NULL),
      |gbench AS (SELECT DISTINCT s8 FROM g WHERE doc_id % 4 = 3),
      |contam AS (SELECT t.doc_id
      |           FROM g t LEFT JOIN gbench b ON t.s8 = b.s8
      |           WHERE t.doc_id % 4 <> 3 GROUP BY 1
      |           HAVING CAST(COUNT(b.s8) AS DOUBLE) / COUNT(*) >= 0.5),
      |keepers AS (SELECT fp, MIN(doc_id) AS keeper FROM tok GROUP BY 1),
      |seg AS (SELECT doc_id, i // $LineLen AS seg_id,
      |               string_agg(word, ' ' ORDER BY i) AS line
      |        FROM (SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) - 1 AS i FROM tok)
      |        GROUP BY 1, 2),
      |lf AS (SELECT DISTINCT md5(line) AS lfp, doc_id FROM seg),
      |lrk AS (SELECT lfp, doc_id, ROW_NUMBER() OVER (PARTITION BY lfp ORDER BY doc_id) AS k FROM lf),
      |boilseg AS (SELECT s.doc_id, s.seg_id
      |            FROM seg s JOIN lrk r ON md5(s.line) = r.lfp AND s.doc_id = r.doc_id
      |            WHERE r.k >= $LineMinDocs),
      |ssh AS (SELECT doc_id, t.i, md5(array_to_string(list_slice(w, t.i + 1, t.i + $SpanW), ' ')) AS sfp
      |       FROM tok, UNNEST(generate_series(0, len(w) - $SpanW)) AS t(i) WHERE len(w) >= $SpanW),
      |sfd AS (SELECT DISTINCT sfp, doc_id FROM ssh),
      |srk AS (SELECT sfp, doc_id, ROW_NUMBER() OVER (PARTITION BY sfp ORDER BY doc_id) AS k FROM sfd),
      |scov AS (SELECT DISTINCT s.doc_id, t.pos
      |        FROM ssh s JOIN srk r ON s.sfp = r.sfp AND s.doc_id = r.doc_id AND r.k >= 2,
      |             UNNEST(generate_series(s.i, s.i + ${SpanW - 1})) AS t(pos)),
      |m AS (SELECT t.doc_id, t.pos, t.tok,
      |        (b.seg_id IS NOT NULL) AS line_rm, (c.pos IS NOT NULL) AS span_rm
      |      FROM toks t
      |      LEFT JOIN boilseg b ON t.doc_id = b.doc_id AND t.pos // $LineLen = b.seg_id
      |      LEFT JOIN scov c ON t.doc_id = c.doc_id AND t.pos = c.pos),
      |perdoc AS (SELECT doc_id,
      |    COUNT(*) AS n_tokens,
      |    CAST(COUNT(*) FILTER (WHERE line_rm) AS BIGINT) AS n_line_rm,
      |    CAST(COUNT(*) FILTER (WHERE span_rm) AS BIGINT) AS n_span_rm,
      |    CAST(COUNT(*) FILTER (WHERE line_rm OR span_rm) AS BIGINT) AS n_removed,
      |    CAST(COUNT(*) FILTER (WHERE NOT (line_rm OR span_rm)) AS BIGINT) AS n_kept,
      |    COUNT(*) FILTER (WHERE NOT (line_rm OR span_rm) AND tok IN ('the', 'a')) AS n_stop,
      |    COUNT(DISTINCT tok) FILTER (WHERE NOT (line_rm OR span_rm)) AS n_distinct,
      |    COUNT(*) FILTER (WHERE NOT (line_rm OR span_rm) AND tok IN ('the', 'a', 'of')) AS s_en,
      |    COUNT(*) FILTER (WHERE NOT (line_rm OR span_rm) AND tok IN ('der', 'die', 'das')) AS s_de,
      |    COUNT(*) FILTER (WHERE NOT (line_rm OR span_rm) AND tok IN ('le', 'la', 'les')) AS s_fr,
      |    COUNT(*) FILTER (WHERE NOT (line_rm OR span_rm) AND tok IN ('el', 'los', 'las')) AS s_es,
      |    COALESCE(string_agg(tok, ' ' ORDER BY pos) FILTER (WHERE NOT (line_rm OR span_rm)), '') AS kept_text
      |  FROM m GROUP BY 1),
      |sc AS (SELECT p.doc_id, t.source, t.lang, t.fp,
      |    p.n_tokens, p.n_line_rm, p.n_span_rm, p.n_removed, p.n_kept, p.kept_text,
      |    CASE WHEN p.n_kept > 0 THEN
      |      ROUND(((CAST(0.4 AS DOUBLE) * least(CAST(p.n_kept AS DOUBLE) / 50.0, 1.0))
      |        + (CAST(0.3 AS DOUBLE) * (1.0 - (CAST(p.n_stop AS DOUBLE) / p.n_kept))))
      |        + (CAST(0.3 AS DOUBLE) * (CAST(p.n_distinct AS DOUBLE) / p.n_kept)), 6) END AS quality_score,
      |    CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0 THEN 'en'
      |         WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
      |         WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
      |         WHEN s_es > 0 THEN 'es'
      |         ELSE 'und' END AS pred_lang
      |  FROM perdoc p JOIN tok t USING (doc_id)),
      |d AS (SELECT sc.*,
      |    CASE WHEN sc.doc_id <> k.keeper THEN 'exact_dup'
      |         WHEN sc.doc_id IN (SELECT d2 FROM neard) THEN 'near_dup'
      |         WHEN 2 * sc.n_kept < sc.n_tokens THEN 'heavy_dup'
      |         WHEN sc.doc_id IN (SELECT doc_id FROM contam) THEN 'contaminated'
      |         WHEN sc.pred_lang <> 'en' THEN 'lang'
      |         WHEN sc.quality_score < 0.7 THEN 'low_quality'
      |         END AS drop_reason
      |  FROM sc JOIN keepers k ON sc.fp = k.fp),
      |fin AS (SELECT d.*,
      |    CASE WHEN drop_reason IS NULL THEN ${Privacy.plantSqlOn("kept_text")} END AS t0
      |  FROM d),
      |fin2 AS (SELECT fin.*,
      |    CASE WHEN drop_reason IS NULL THEN ${Privacy.redactSqlOn("t0")} END AS red
      |  FROM fin)""".stripMargin

  /** End-to-end corpus CURATION — the composed pipeline a
    * training-data run actually executes, now carrying the engine's
    * FULL filter stack in the published order: exact dedup (content
    * digest keeper) → near-dup removal (the memoized PPJoin pair
    * list) → boilerplate LINE scrub + exact-substring SPAN scrub
    * (prefix semantics, union of position masks — see below) →
    * benchmark decontamination → language ID → quality threshold →
    * PII plant+redact on the retained text. Output is the
    * per-document decision record (`drop_reason` NULL = retained)
    * with per-stage removal accounting and the final redacted text's
    * fingerprint — the audit artifact a curation run persists next to
    * the retained corpus.
    *
    * The two scrub stages use the PREFIX-semantics masks
    * ([[dedupLinesPrefix]] / [[dedupSpansPrefix]] — a line/window is
    * boilerplate/duplicated for doc d iff enough docs with doc_id ≤ d
    * carry it), the only formulation a continuously-operated pipeline
    * can decide at arrival without retraction, which is what lets the
    * streaming twin share this oracle verbatim. Both masks are
    * computed over RAW token positions and applied as a UNION in the
    * native one-pass [[graft.functions.MultiScrub]] kernel, so each
    * stage's mask equals its standalone query's exactly; language,
    * quality, and the PII scan then run on the SCRUBBED token stream
    * (the published order), while contamination keeps screening the
    * RAW text — a doc carrying benchmark text is contaminated whether
    * or not the scrub happened to cut the overlap. A doc losing ≥
    * half its tokens to the union mask drops as `heavy_dup` (the
    * RefinedWeb-style removal-fraction gate, exact in integers).
    *
    * Scale shape: one tokenize pass feeds every per-row signal; the
    * digest keeper is one shuffle on `md5(text)`; line/span masks are
    * postings-bounded rank windows (never all-pairs) whose mark-joins
    * key on 8-byte fingerprints; the scrub + quality + lang + PII
    * tail is ONE codegen map stage over the doc stream (the token
    * stream never shuffles — [[MultiScrub]] + [[TokenProfile]] +
    * regex redaction are all row-local); near-dup and contamination
    * reuse their memoized session artifacts under the usual broadcast
    * gates. */
  val curation: Q = Q("text_curation",
    curationOracleBody +
      s"""
      |SELECT doc_id, source, lang, pred_lang, n_tokens, n_line_rm, n_span_rm, n_removed,
      |  n_kept AS n_tokens_kept, quality_score, drop_reason,
      |  CASE WHEN drop_reason IS NULL THEN CAST(${Privacy.piiCountSqlOn("t0")} AS BIGINT) END AS n_pii,
      |  CASE WHEN drop_reason IS NULL THEN CAST(len(string_split(red, ' ')) AS BIGINT) END AS final_tokens,
      |  CASE WHEN drop_reason IS NULL THEN md5(red) END AS final_fp
      |FROM fin2 ORDER BY doc_id""".stripMargin) { (s, dir) =>
    curationDecisions(s, dir).drop("red").orderBy(col("doc_id"))
  }

  /** PREFIX boilerplate line mask `(doc_id, seg_id)` — the segments
    * the composed pipeline's line stage removes, the exact
    * [[dedupLinesPrefix]] rule: the k-th distinct carrier (ingest
    * order) of a line with k ≥ [[LineMinDocs]] loses it. One rank
    * window over the line-fp postings; 8-byte join keys. */
  private[graft] def prefixBoilerSegs(docs: DataFrame): DataFrame = {
    val segs = lineSegments(docs).withColumn("fp", xxhash64(col("line")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp")).orderBy(col("doc_id"))
    val rk = segs.select(col("fp"), col("doc_id")).distinct()
      .withColumn("k", row_number().over(w))
      .filter(col("k") >= LineMinDocs).select(col("fp"), col("doc_id"))
    segs.join(rk, Seq("fp", "doc_id")).select(col("doc_id"), col("seg_id"))
  }

  /** PREFIX duplicated span-start mask `(doc_id, i)` — the window
    * offsets the composed pipeline's span stage removes, the exact
    * [[dedupSpansPrefix]] rule at threshold 2 (second and later
    * carriers lose the span). */
  private[graft] def prefixDupStarts(docs: DataFrame): DataFrame = {
    val starts = spanStarts(docs)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp")).orderBy(col("doc_id"))
    val rk = starts.select(col("fp"), col("doc_id")).distinct()
      .withColumn("k", row_number().over(w))
      .filter(col("k") >= 2).select(col("fp"), col("doc_id"))
    starts.join(rk, Seq("fp", "doc_id")).select(col("doc_id"), col("i"))
  }

  /** Per-doc SCRUBBED curation attributes — the union line+span
    * scrub applied to the raw token stream, then quality and
    * language-ID recomputed over the KEPT tokens: one
    * [[graft.functions.MultiScrub]] + [[graft.functions.TokenProfile]]
    * codegen pass per row after two postings-bounded mask joins.
    * Shared by the batch pipeline (global prefix masks) and the
    * streaming twin (masks = promoted state + in-batch rank). */
  private[graft] def scrubbedQuality(docs: DataFrame, boilerSegs: DataFrame,
                                     dupStarts: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val ls = boilerSegs.groupBy(col("doc_id"))
      .agg(collect_list(col("seg_id").cast("int")).as("ls"))
    val ss = dupStarts.groupBy(col("doc_id"))
      .agg(collect_list(col("i").cast("int")).as("ss"))
    val sc = tokenized(docs)
      .join(ls, Seq("doc_id"), "left_outer")
      .join(ss, Seq("doc_id"), "left_outer")
      .withColumn("sc", expr(
        s"graft_multi_scrub(w, coalesce(ss, cast(array() as array<int>)), $SpanW," +
          s" coalesce(ls, cast(array() as array<int>)), $LineLen)"))
      .withColumn("tp", expr("graft_token_profile(sc.kept)"))
    val kept = col("tp").getItem(0)
    val nStop = col("tp").getItem(1)
    val nDistinct = col("tp").getItem(2)
    sc.select(
      col("doc_id"), col("source"), col("lang"), md5(col("text")).as("fp"),
      size(col("w")).cast("long").as("n_tokens"),
      col("sc.n_line_rm").as("n_line_rm"),
      col("sc.n_span_rm").as("n_span_rm"),
      col("sc.n_removed").as("n_removed"),
      kept.as("n_tokens_kept"),
      when(kept > 0,
        r6((lit(0.4) * least(kept.cast("double") / lit(50.0), lit(1.0))
          + lit(0.3) * (lit(1.0) - (nStop.cast("double") / kept)))
          + lit(0.3) * (nDistinct.cast("double") / kept))).as("quality_score"),
      array_join(col("sc.kept"), " ").as("kept_text"),
      col("tp").getItem(3).as("s_en"), col("tp").getItem(4).as("s_de"),
      col("tp").getItem(5).as("s_fr"), col("tp").getItem(6).as("s_es"))
      .withColumn("pred_lang",
        when(col("s_en") >= col("s_de") && col("s_en") >= col("s_fr")
          && col("s_en") >= col("s_es") && col("s_en") > 0, "en")
        .when(col("s_de") >= col("s_fr") && col("s_de") >= col("s_es") && col("s_de") > 0, "de")
        .when(col("s_fr") >= col("s_es") && col("s_fr") > 0, "fr")
        .when(col("s_es") > 0, "es")
        .otherwise("und"))
      .drop("s_en", "s_de", "s_fr", "s_es")
  }

  /** The drop-reason cascade + the retained-docs PII tail over a
    * marked per-doc frame (the [[scrubbedQuality]] columns plus
    * `is_exact_dup`, `is_near_dup`, `is_contam`) — shared by the
    * batch decisions and the streaming twin, which compute the three
    * mark columns from their own artifacts. PII plants onto the
    * scrubbed kept-text (the same deterministic plant as
    * `text_pii_redact`) and redacts it; the final token count and
    * content fingerprint are what the pack stage consumes. */
  private[graft] def curationDecide(marked: DataFrame): DataFrame =
    curationDecideWith(marked, col("quality_score") < 0.7)

  /** [[curationDecide]] with a pluggable quality predicate — the
    * learned-gate variant swaps the heuristic threshold for the
    * closed-form LR score without touching any other stage. */
  private[graft] def curationDecideWith(marked: DataFrame,
                                        lowQuality: Column): DataFrame =
    marked
      .withColumn("drop_reason",
        when(col("is_exact_dup"), "exact_dup")
        .when(col("is_near_dup"), "near_dup")
        .when(lit(2L) * col("n_tokens_kept") < col("n_tokens"), "heavy_dup")
        .when(col("is_contam"), "contaminated")
        .when(col("pred_lang") =!= "en", "lang")
        .when(lowQuality, "low_quality"))
      .withColumn("t0", when(col("drop_reason").isNull,
        Privacy.planted(col("kept_text"), col("doc_id"))))
      .withColumn("red", when(col("drop_reason").isNull, Privacy.redacted(col("t0"))))
      .select(col("doc_id"), col("source"), col("lang"), col("pred_lang"),
        col("n_tokens"), col("n_line_rm"), col("n_span_rm"), col("n_removed"),
        col("n_tokens_kept"), col("quality_score"), col("drop_reason"),
        when(col("drop_reason").isNull,
          (regexp_count(col("t0"), lit(Privacy.EmailRe))
            + regexp_count(col("t0"), lit(Privacy.Ipv4Re))
            + regexp_count(col("t0"), lit(Privacy.PhoneRe))).cast("long")).as("n_pii"),
        when(col("drop_reason").isNull,
          size(split(col("red"), " ")).cast("long")).as("final_tokens"),
        when(col("drop_reason").isNull, md5(col("red"))).as("final_fp"),
        // the final text itself (retained rows) — the emission stage's
        // input; the decision-record queries drop it before the oracle
        when(col("drop_reason").isNull, col("red")).as("red"))

  /** The gate-invariant prefix of [[curationDecideWith]] PLUS the
    * retained-docs PII tail computed ONCE: every cascade stage before
    * low_quality, and the tail columns for rows those stages keep.
    * The tail is gate-invariant — a doc retained under ANY quality
    * gate carries the same planted/redacted text — so a two-face
    * consumer (the shadow stream: heuristic + learned decisions per
    * micro-batch) cuts this and projects both gates from
    * it instead of paying the regex tail twice per batch. */
  private[graft] def curationDecideShared(marked: DataFrame): DataFrame =
    marked
      .withColumn("pre_drop",
        when(col("is_exact_dup"), "exact_dup")
        .when(col("is_near_dup"), "near_dup")
        .when(lit(2L) * col("n_tokens_kept") < col("n_tokens"), "heavy_dup")
        .when(col("is_contam"), "contaminated")
        .when(col("pred_lang") =!= "en", "lang"))
      .withColumn("t0", when(col("pre_drop").isNull,
        Privacy.planted(col("kept_text"), col("doc_id"))))
      .withColumn("red0", when(col("pre_drop").isNull, Privacy.redacted(col("t0"))))
      .withColumn("n_pii0", when(col("pre_drop").isNull,
        (regexp_count(col("t0"), lit(Privacy.EmailRe))
          + regexp_count(col("t0"), lit(Privacy.Ipv4Re))
          + regexp_count(col("t0"), lit(Privacy.PhoneRe))).cast("long")))
      .withColumn("final_tokens0", when(col("pre_drop").isNull,
        size(split(col("red0"), " ")).cast("long")))
      .withColumn("final_fp0", when(col("pre_drop").isNull, md5(col("red0"))))

  /** One gate face over [[curationDecideShared]] — the exact
    * [[curationDecideWith]] output columns; rows the gate drops get
    * their precomputed tail values NULLed, reproducing the original
    * when(drop_reason IS NULL, ...) semantics byte for byte. */
  private[graft] def decideFromShared(shared: DataFrame, lowQuality: Column): DataFrame =
    shared
      .withColumn("drop_reason",
        coalesce(col("pre_drop"), when(lowQuality, "low_quality")))
      .select(col("doc_id"), col("source"), col("lang"), col("pred_lang"),
        col("n_tokens"), col("n_line_rm"), col("n_span_rm"), col("n_removed"),
        col("n_tokens_kept"), col("quality_score"), col("drop_reason"),
        when(col("drop_reason").isNull, col("n_pii0")).as("n_pii"),
        when(col("drop_reason").isNull, col("final_tokens0")).as("final_tokens"),
        when(col("drop_reason").isNull, col("final_fp0")).as("final_fp"),
        when(col("drop_reason").isNull, col("red0")).as("red"))

  /** Per-doc decision frame behind [[curation]] / [[curationPack]],
    * memoized + persisted per (application, sf dir): both queries
    * (and the consistency spec) replay the same composed stack, and
    * the frame is corpus-row-bounded (one row per doc, no text
    * columns except via the fingerprints). */
  private val decisionsCache = graft.SessionCaches.memo[DataFrame]

  private[graft] def curationDecisions(s: SparkSession, dir: String): DataFrame =
    // memoized for plan reuse but NOT persisted: decide() is a pure
    // row-local projection over the already-persisted marked frame,
    // and persisting it too would hold a second text-bearing copy of
    // the corpus (kept_text + red) in storage memory for no reuse win
    decisionsCache(s, dir)(
      curationDecisionsCompute(s, dir))

  private def curationDecisionsCompute(s: SparkSession, dir: String): DataFrame =
    curationDecide(curationMarked(s, dir))

  /** The marked per-doc frame the decide cascade consumes (scrubbed
    * attributes + the three artifact-derived mark columns), memoized
    * + persisted per (application, sf dir): the flagship decisions,
    * the learned-gate variant, and the consistency spec all replay
    * the same masks/joins. */
  private val markedCache = graft.SessionCaches.memo[DataFrame]

  private[graft] def curationMarked(s: SparkSession, dir: String): DataFrame =
    markedCache(s, dir) {
      val docs = Tables.documents(s, dir)
      val per = scrubbedQuality(docs, prefixBoilerSegs(docs), prefixDupStarts(docs))
      val keepers = docs
        .groupBy(md5(col("text")).as("fp")).agg(min(col("doc_id")).as("keeper"))
      val pairs = nearDupPairs05(s, dir)
      val nearIds = pairs.select(col("d2").as("doc_id")).distinct()
        .withColumn("is_near_dup", lit(true))
      // drop list bounded by the (already materialized) pair count —
      // same broadcast gate as the keeper filter in [[dedupKeep]]
      val near =
        if (pairs.count() * 16 <= BroadcastBytesLimit) broadcast(nearIds) else nearIds
      // benchmark-contaminated docs — the flagged list is tiny HERE but
      // corpus-proportional in the worst case (a widely-leaked
      // benchmark), so it takes the same count gate; the aggregate is
      // already materialized ([[contaminationAgg]] persists + counts),
      // so the gate's count() is a cache read, not a job.
      val contam = maybeBroadcast(
        contaminationAgg(s, dir).select(col("doc_id")).withColumn("is_contam", lit(true)),
        contaminationAgg(s, dir).count() * 16)
      // cut: the marked frame sits on the scrub + boiler/dup-prefix +
      // dedup-join tree, and the decide cascade embeds it once per
      // consumer
      cutLineage(per
        .join(keepers, Seq("fp"))
        .join(near, Seq("doc_id"), "left_outer")
        .join(contam, Seq("doc_id"), "left_outer")
        .withColumn("is_exact_dup", col("doc_id") =!= col("keeper")))
    }

  /** The composed pipeline with the LEARNED quality gate: same
    * cascade, but `low_quality` comes from the closed-form LR score
    * over the SCRUBBED kept tokens (PRODUCTION model resolved from
    * the [[graft.ml.QualityModel]] registry) instead of the
    * heuristic threshold. */
  private[graft] def curationLearnedDecisions(s: SparkSession, dir: String,
      model: DataFrame): DataFrame = {
    val marked = curationMarked(s, dir)
    val proba = graft.ml.QualityModel.scoreClosedForm(
      marked.select(col("doc_id"), split(col("kept_text"), " ").as("toks")), model)
    curationDecideWith(marked.join(proba, Seq("doc_id")), col("proba") < 0.5)
  }

  /** [[curationLearnedDecisions]] memoized + persisted per
    * (application, sf dir) — the gated certificate references the
    * batch learned record from four consumers (retained recut, flip
    * set, offsets, pack) and the learned certificate from two; an
    * unpersisted frame re-pays the closed-form scoring + PII tail per
    * consumer per rep (measured 16.6 s on the gated certificate at
    * sf0.1). Keyed on the session dataset only: within a session the
    * callers all pin the SAME production model version (the unified
    * pass's qmodel), so the key needs no model component. */
  private val learnedDecisionsCache = graft.SessionCaches.memo[DataFrame]

  private[graft] def curationLearnedDecisionsCached(s: SparkSession, dir: String,
      model: DataFrame): DataFrame =
    learnedDecisionsCache(s, dir)(
      // cut: certificates union it with several siblings
      cutLineage(curationLearnedDecisions(s, dir, model)))

  /** Per-source DATA CARD — the datasheet a curated-corpus release
    * publishes (Datasheets-for-Datasets / Dolma-style): for each
    * source, docs in/kept, token retention through the scrub stages,
    * drop counts by reason in the cascade's own taxonomy, PII
    * redaction volume, and mean kept quality. A pure rollup of the
    * memoized [[curationDecisions]] record — one hash aggregate on
    * the low-cardinality source key, so the card is free once the
    * pipeline has run (at 100 TB it rides the same pass that writes
    * the decisions; no second corpus scan). Scrub counts are
    * computed BEFORE the document-level drop cascade, so
    * tokens_scrubbed includes tokens scrubbed from docs that were
    * later dropped; kept quality is published as the un-normalized
    * DECIMAL(18,6) sum (order-independent addition; dividing by an
    * even kept count would land on 6-dec midpoints the two engines
    * round differently — consumers divide by docs_kept). */
  val dataCard: Q = Q("text_data_card",
    curationOracleBody + s""",
      |rec AS (SELECT source, n_tokens, n_removed, quality_score, drop_reason,
      |    CASE WHEN drop_reason IS NULL THEN CAST(${graft.queries.Privacy.piiCountSqlOn("t0")} AS BIGINT) END AS n_pii,
      |    CASE WHEN drop_reason IS NULL THEN CAST(len(string_split(red, ' ')) AS BIGINT) END AS final_tokens
      |  FROM fin2)
      |SELECT source,
      |  COUNT(*) AS docs_in,
      |  CAST(COUNT(*) FILTER (WHERE drop_reason IS NULL) AS BIGINT) AS docs_kept,
      |  ROUND(COUNT(*) FILTER (WHERE drop_reason IS NULL) / CAST(COUNT(*) AS DOUBLE), 6) AS keep_rate,
      |  CAST(SUM(n_tokens) AS BIGINT) AS tokens_in,
      |  CAST(SUM(n_removed) AS BIGINT) AS tokens_scrubbed,
      |  CAST(COALESCE(SUM(final_tokens), 0) AS BIGINT) AS tokens_final,
      |  ROUND(COALESCE(SUM(final_tokens), 0) / CAST(SUM(n_tokens) AS DOUBLE), 6) AS token_keep_rate,
      |  CAST(COALESCE(SUM(n_pii), 0) AS BIGINT) AS pii_redactions,
      |  CAST(COUNT(*) FILTER (WHERE drop_reason = 'exact_dup') AS BIGINT) AS n_exact_dup,
      |  CAST(COUNT(*) FILTER (WHERE drop_reason = 'near_dup') AS BIGINT) AS n_near_dup,
      |  CAST(COUNT(*) FILTER (WHERE drop_reason = 'heavy_dup') AS BIGINT) AS n_heavy_dup,
      |  CAST(COUNT(*) FILTER (WHERE drop_reason = 'contaminated') AS BIGINT) AS n_contaminated,
      |  CAST(COUNT(*) FILTER (WHERE drop_reason = 'lang') AS BIGINT) AS n_lang,
      |  CAST(COUNT(*) FILTER (WHERE drop_reason = 'low_quality') AS BIGINT) AS n_low_quality,
      |  ROUND(CAST(SUM(CAST(quality_score AS DECIMAL(18,6))) FILTER (WHERE drop_reason IS NULL) AS DOUBLE), 6)
      |    AS sum_quality_kept
      |FROM rec GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    dataCardOf(curationDecisions(s, dir))
  }

  /** The [[dataCard]] rollup over any decision-record frame (the
    * batch pipeline's or the consolidated stream's landed records —
    * the card is a content-determined fact of the decisions, so both
    * share the oracle verbatim). */
  private[graft] def dataCardOf(decisions: DataFrame): DataFrame = {
    val kept = col("drop_reason").isNull
    val keptN = count(when(kept, 1))
    decisions
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("docs_in"),
        keptN.as("docs_kept"),
        r6(keptN / count(lit(1)).cast("double")).as("keep_rate"),
        sum(col("n_tokens")).cast("long").as("tokens_in"),
        sum(col("n_removed")).cast("long").as("tokens_scrubbed"),
        coalesce(sum(col("final_tokens")), lit(0L)).cast("long").as("tokens_final"),
        r6(coalesce(sum(col("final_tokens")), lit(0L)).cast("double")
          / sum(col("n_tokens")).cast("double")).as("token_keep_rate"),
        coalesce(sum(col("n_pii")), lit(0L)).cast("long").as("pii_redactions"),
        count(when(col("drop_reason") === "exact_dup", 1)).as("n_exact_dup"),
        count(when(col("drop_reason") === "near_dup", 1)).as("n_near_dup"),
        count(when(col("drop_reason") === "heavy_dup", 1)).as("n_heavy_dup"),
        count(when(col("drop_reason") === "contaminated", 1)).as("n_contaminated"),
        count(when(col("drop_reason") === "lang", 1)).as("n_lang"),
        count(when(col("drop_reason") === "low_quality", 1)).as("n_low_quality"),
        // SUMMED, not averaged: the exact decimal sum divided by an
        // even kept count lands on 6-dec midpoints the two engines
        // round differently (the kmeans sum_cos rule) — consumers
        // divide by docs_kept themselves
        r6(sum(when(kept, col("quality_score"))
            .cast(org.apache.spark.sql.types.DecimalType(18, 6))).cast("double"))
          .as("sum_quality_kept"))
      .orderBy(col("source"))
  }

  /** Quality-score HISTOGRAM over the decision record — the
    * threshold-calibration artifact: the distribution you inspect
    * (alongside the learned gate's probabilities) before moving the
    * 0.7 cutoff, bucketed at 0.05. Buckets are exact on both
    * engines: quality_score is already 6-dec rounded, `score * 20`
    * is the same double everywhere, and floor of the same double
    * agrees — the bucket edge `lo` divides the integer bucket once
    * at the report boundary. Docs with no kept tokens (no score;
    * they drop as heavy_dup) are excluded. Another free rollup of
    * the cached decisions — one hash aggregate on ≤21 keys. */
  val qualityHist: Q = Q("text_quality_hist",
    curationOracleBody + """
      |SELECT CAST(FLOOR(quality_score * 20) AS BIGINT) AS bucket,
      |  ROUND(CAST(FLOOR(quality_score * 20) AS BIGINT) / 20.0, 6) AS lo,
      |  COUNT(*) AS n_docs,
      |  CAST(COUNT(*) FILTER (WHERE drop_reason IS NULL) AS BIGINT) AS n_kept
      |FROM fin2 WHERE quality_score IS NOT NULL
      |GROUP BY 1, 2 ORDER BY 1""".stripMargin) { (s, dir) =>
    qualityHistOf(curationDecisions(s, dir))
  }

  /** The [[qualityHist]] rollup over any decision-record frame —
    * shared with the consolidated stream's twin. */
  private[graft] def qualityHistOf(decisions: DataFrame): DataFrame =
    decisions.filter(col("quality_score").isNotNull)
      .groupBy(floor(col("quality_score") * 20).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("drop_reason").isNull, 1)).as("n_kept"))
      .select(col("bucket"), r6(col("bucket") / lit(20.0)).as("lo"),
        col("n_docs"), col("n_kept"))
      .orderBy(col("bucket"))

  /** The curated corpus PACKED into training sequences — the terminal
    * batch-assembly stage composed over [[curationDecisions]]: only
    * retained documents (drop_reason NULL) flow, at their FINAL
    * (scrubbed + redacted) token counts, into the same
    * per-source-shard concat-then-chunk packing as
    * [[packSequences]]. One extra codegen filter between the two
    * plans — the pipeline composes without a landing step. */
  val curationPack: Q = Q("text_curation_pack",
    curationOracleBody +
      """
      |, o AS (
      |  SELECT source, doc_id, CAST(len(string_split(red, ' ')) AS BIGINT) AS n_tokens,
      |    COALESCE(SUM(len(string_split(red, ' '))) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
      |  FROM fin2 WHERE drop_reason IS NULL
      |)
      |SELECT source, CAST(start_off // 512 AS BIGINT) AS seq_id,
      |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
      |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM o GROUP BY 1, 2 ORDER BY source, seq_id""".stripMargin) { (s, dir) =>
    packRetained(curationDecisions(s, dir).filter(col("drop_reason").isNull)
      .select(col("source"), col("doc_id"), col("final_tokens").as("n_tokens")))
  }

  /** PACKING-EFFICIENCY REPORT of the curated text release —
    * `mm_pack_efficiency`'s device one modality down: per source
    * shard, padding-loss tokens (the unfilled tail of the last
    * 512-window), split-doc count/rate (docs whose token span crosses
    * a window boundary — the `is_split` population as a shard-level
    * rate), and mean windows spanned per doc. Engine from the
    * retained docs' running offsets; oracle from the curation
    * `o`-chain arithmetically — agreement certifies the offsets. Two
    * per-doc integer columns + one groupBy on the bounded source
    * alphabet. */
  val packEfficiency: Q = Q("text_pack_efficiency",
    curationOracleBody +
      """
      |, o AS (
      |  SELECT source, doc_id, CAST(len(string_split(red, ' ')) AS BIGINT) AS n_tokens,
      |    COALESCE(SUM(len(string_split(red, ' '))) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
      |  FROM fin2 WHERE drop_reason IS NULL
      |)
      |SELECT source,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
      |  CAST((SUM(n_tokens) + 511) // 512 AS BIGINT) AS n_windows,
      |  CAST(((SUM(n_tokens) + 511) // 512) * 512 - SUM(n_tokens) AS BIGINT) AS pad_tokens,
      |  CAST(COUNT(*) FILTER (WHERE start_off // 512 != (start_off + GREATEST(n_tokens, 1) - 1) // 512) AS BIGINT)
      |    AS n_split_docs,
      |  ROUND(COUNT(*) FILTER (WHERE start_off // 512 != (start_off + GREATEST(n_tokens, 1) - 1) // 512)
      |        / CAST(COUNT(*) AS DOUBLE), 6) AS split_rate,
      |  ROUND(SUM((start_off + GREATEST(n_tokens, 1) - 1) // 512 - start_off // 512 + 1)
      |        / CAST(COUNT(*) AS DOUBLE), 6) AS windows_per_doc
      |FROM o GROUP BY 1 ORDER BY source""".stripMargin) { (s, dir) =>
    packEfficiencyOfDecisions(curationDecisions(s, dir))
  }

  /** The [[packEfficiency]] rollup over any decision-record frame — a
    * content-determined fact of the decisions, shared verbatim by the
    * batch query and the consolidated stream's twin. */
  private[graft] def packEfficiencyOfDecisions(decisions: DataFrame): DataFrame = {
    val rec = sourcePrefixSum(
      decisions.filter(col("drop_reason").isNull)
        .select(col("source"), col("doc_id"), col("final_tokens").as("n_tokens")),
      col("n_tokens"))
      .withColumn("w0", expr("start_off div 512"))
      // greatest(n_tokens, 1): a zero-token record must not step w1
      // BELOW w0 — Spark div truncates toward zero while DuckDB //
      // floors, so (0 - 1) would read 0 here and -1 in the oracle
      .withColumn("w1", expr("(start_off + greatest(n_tokens, 1) - 1) div 512"))
    rec.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        expr("(sum(n_tokens) + 511) div 512").as("n_windows"),
        expr("((sum(n_tokens) + 511) div 512) * 512 - sum(n_tokens)").as("pad_tokens"),
        sum(when(col("w0") =!= col("w1"), 1L).otherwise(0L)).as("n_split_docs"),
        round(sum(when(col("w0") =!= col("w1"), 1L).otherwise(0L))
          / count(lit(1)).cast("double"), 6).as("split_rate"),
        round(sum(col("w1") - col("w0") + 1L)
          / count(lit(1)).cast("double"), 6).as("windows_per_doc"))
      .orderBy(col("source"))
  }

  /** Pack-block size of the doc-boundary-preserving policy: greedy
    * fill runs independently inside each `doc_id div 4096` id-block,
    * so (a) the pack is embarrassingly parallel — no cross-block
    * sequential dependency at any corpus size, (b) the collected
    * per-block doc list is BOUNDED (≤ 4096 structs) regardless of
    * scale, and (c) earlier blocks' packs are immutable under corpus
    * append (ids append monotonically), unlike the concat-pack whose
    * every offset shifts. The price — one padded window tail per
    * (source, block) — is exactly what [[packWholeReport]] meters. */
  private[graft] final val PackBlockDocs = 4096

  /** Doc-boundary-preserving greedy packing — the LEVER the
    * pack-efficiency reports exist to justify: instead of
    * concatenating and splitting docs at every 512·k boundary
    * ([[packOffsets]]' is_split population), each doc that would
    * cross the open window's edge pads that window's tail and starts
    * at the next boundary, so NO sub-window doc is ever split; docs
    * longer than one window still split (their own windows, tail
    * padded — recorded in `is_split`). Input: one row per doc
    * (source, doc_id, n_tokens); output adds the padded-stream
    * (seq_id, offset_in_seq, is_split) — per-source window ids,
    * comparable to [[packOffsets]].
    *
    * Scale shape: one shuffle groups docs into bounded id-blocks
    * ([[PackBlockDocs]]); the greedy fold is the native
    * [[graft.functions.GreedyPackOffsets]] kernel — one O(block)
    * primitive loop per block row inside codegen; per-block window
    * counts compose through the [[sourcePrefixSum]] two-level device
    * (blk is a doc_id-monotone key); a posexplode restores per-doc
    * rows. No per-doc window function, no unbounded collect. */
  private[graft] def packWholeDocs(perDoc: DataFrame, budget: Int = 512): DataFrame = {
    val blocks = perDoc
      .withColumn("blk", expr(s"doc_id div $PackBlockDocs"))
      .groupBy(col("source"), col("blk"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("n_tokens")))).as("ds"))
      .withColumn("offs",
        expr(s"graft_greedy_pack(transform(ds, x -> x.n_tokens), $budget)"))
      // windows this block occupies = the last doc's last occupied
      // window + 1 (offsets are monotone, so the last doc attains the
      // max); greatest(n, 1): a zero-token doc OCCUPIES the window
      // its offset points into even though it advances nothing, so a
      // trailing zero-token doc sitting exactly on a window boundary
      // must still claim that window — without the guard its seq_id
      // would collide with the next block's first window (the
      // append-stability property the kernel docstring promises)
      .withColumn("nwin", expr(
        s"(element_at(offs, size(offs)) + greatest(element_at(ds, size(ds)).n_tokens, 1)" +
          s" + ${budget - 1}) div $budget"))
      // persisted: this subtree is referenced FOUR times in the one
      // output plan (sourcePrefixSum's anchor/totals/main diamond +
      // the join back), and column pruning gives each branch a
      // distinct exchange, so ReuseExchange can't collapse them —
      // without the cache the INPUT lineage executes 4×, which is
      // invisible over a raw parquet scan but multiplies a derived
      // input (the curriculum-schedule join read 16.3 s/rep vs 0.3 s
      // for the same kernel over raw docs). The frame is the per-doc
      // (id, n_tokens) pairs regrouped into ≤4096-doc block rows —
      // O(corpus/4096) rows, MEMORY_AND_DISK, evicted LRU.
      .persist()
    val bwo = sourcePrefixSum(
        blocks.select(col("source"), col("blk").as("doc_id"), col("nwin")),
        col("nwin"))
      .select(col("source"), col("doc_id").as("blk"), col("start_off").as("w_off"))
    blocks.join(bwo, Seq("source", "blk"))
      .select(col("source"), col("w_off"),
        posexplode(arrays_zip(col("ds"), col("offs"))).as(Seq("i", "z")))
      .select(col("source"),
        col("z.ds.doc_id").as("doc_id"),
        col("z.ds.n_tokens").as("n_tokens"),
        (col("w_off") + expr(s"z.offs div $budget")).as("seq_id"),
        expr(s"z.offs % $budget").as("offset_in_seq"),
        (col("z.ds.n_tokens") > budget).as("is_split"))
  }

  /** The DuckDB rebuild of [[packWholeDocs]]: greedy fill replayed as
    * its group formulation — maximal consecutive runs with run-sum ≤
    * 512 (an over-long doc is a singleton run), each run padded to a
    * window multiple. `nxt` precomputes every possible run end via a
    * bounded band self-join — band width budget + the block's
    * zero-token doc count, because zero-token docs extend a run
    * without consuming budget (a fixed `budget` band would silently
    * truncate such a run — the engine kernel supports them); still
    * bounded by the 4096-doc block. The recursive CTE then just
    * walks run starts (depth = runs per block, ≤ block size);
    * per-doc offsets are pure arithmetic off the in-run prefix sums;
    * per-block window counts are MAX over docs of the last occupied
    * window (GREATEST(n,1): a trailing zero-token doc on a window
    * boundary still occupies that window — mirrors the engine's
    * nwin guard). `tSql` supplies the per-doc token frame
    * (raw documents or the curated o-chain). */
  private[graft] def wholePackOracleCtes(tSql: String, budget: Int = 512): String =
    s"""wpt AS ($tSql
      |), wptr AS (
      |  SELECT source, blk, doc_id, n,
      |    ROW_NUMBER() OVER (PARTITION BY source, blk ORDER BY doc_id) AS rn,
      |    SUM(n) OVER (PARTITION BY source, blk ORDER BY doc_id
      |      ROWS UNBOUNDED PRECEDING) AS s
      |  FROM wpt
      |), wpzc AS (
      |  SELECT source, blk, COUNT(*) FILTER (WHERE n = 0) AS zc
      |  FROM wpt GROUP BY 1, 2
      |), wpnxt AS (
      |  SELECT r.source, r.blk, r.rn,
      |    GREATEST(COALESCE(MAX(j.rn), r.rn), r.rn) AS je,
      |    CASE WHEN MAX(j.rn) IS NULL THEN r.s ELSE MAX(j.s) END AS je_s
      |  FROM wptr r
      |  JOIN wpzc z ON z.source = r.source AND z.blk = r.blk
      |  LEFT JOIN wptr j
      |    ON j.source = r.source AND j.blk = r.blk
      |   AND j.rn >= r.rn AND j.rn <= r.rn + $budget + z.zc
      |   AND j.s <= r.s - r.n + $budget
      |  GROUP BY r.source, r.blk, r.rn, r.s, r.n
      |), wpg AS (
      |  SELECT source, blk, CAST(1 AS BIGINT) AS r,
      |    CAST(0 AS BIGINT) AS s0, CAST(0 AS BIGINT) AS w0
      |  FROM (SELECT DISTINCT source, blk FROM wptr)
      |  UNION ALL
      |  SELECT g.source, g.blk, n.je + 1, n.je_s,
      |    g.w0 + (n.je_s - g.s0 + ${budget - 1}) // $budget
      |  FROM wpg g JOIN wpnxt n ON n.source = g.source AND n.blk = g.blk AND n.rn = g.r
      |), wpgrp AS (
      |  SELECT g.source, g.blk, g.r, n.je, n.je_s, g.s0, g.w0
      |  FROM wpg g JOIN wpnxt n ON n.source = g.source AND n.blk = g.blk AND n.rn = g.r
      |), wpd0 AS (
      |  SELECT d.source, d.blk, d.doc_id, d.n,
      |    wpgrp.w0 + (d.s - d.n - wpgrp.s0) // $budget AS lseq,
      |    (d.s - d.n - wpgrp.s0) % $budget AS off_in_seq,
      |    wpgrp.w0 + (d.s - d.n - wpgrp.s0 + GREATEST(d.n, 1) - 1) // $budget AS lw_end
      |  FROM wptr d
      |  JOIN wpgrp ON wpgrp.source = d.source AND wpgrp.blk = d.blk
      |          AND d.rn >= wpgrp.r AND d.rn <= wpgrp.je
      |), wpbw AS (
      |  SELECT source, blk, MAX(lw_end) + 1 AS nwin FROM wpd0 GROUP BY 1, 2
      |), wpbwo AS (
      |  SELECT source, blk,
      |    COALESCE(SUM(nwin) OVER (PARTITION BY source ORDER BY blk
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS w_off
      |  FROM wpbw
      |), wppd AS (
      |  SELECT d0.source, d0.doc_id, d0.n AS n_tokens,
      |    CAST(wpbwo.w_off + d0.lseq AS BIGINT) AS seq_id,
      |    CAST(d0.off_in_seq AS BIGINT) AS offset_in_seq,
      |    d0.n > $budget AS is_split
      |  FROM wpd0 d0
      |  JOIN wpbwo ON wpbwo.source = d0.source AND wpbwo.blk = d0.blk
      |)""".stripMargin

  /** Per-document index of the WHOLE-DOC pack over the raw corpus —
    * [[packOffsets]]' columns under the boundary-preserving policy,
    * so the two indexes diff doc-by-doc: every sub-window doc reads
    * `is_split = false` here, and the padded window ids replace the
    * concat ones. */
  val packWholeDocsQ: Q = Q("text_pack_whole_docs",
    "WITH RECURSIVE " + wholePackOracleCtes(
      s"""
      |  SELECT source, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
      |    doc_id // $PackBlockDocs AS blk
      |  FROM documents""".stripMargin) + """
      |SELECT source, doc_id, n_tokens, seq_id, offset_in_seq, is_split
      |FROM wppd ORDER BY source, doc_id""".stripMargin) { (s, dir) =>
    packWholeDocs(
      tokenized(Tables.documents(s, dir))
        .select(col("source"), col("doc_id"), size(col("w")).cast("long").as("n_tokens")))
      .orderBy(col("source"), col("doc_id"))
  }

  /** The [[packEfficiency]] report under the WHOLE-DOC policy, over
    * the same curated release — the two rows read side by side are
    * the split_rate/pad_tokens TRADEOFF: this one must show
    * split_rate = 0 whenever no retained doc exceeds a window, and
    * its pad_tokens excess over [[packEfficiency]]'s is the measured
    * price of never splitting a doc. Same rollup key (the bounded
    * source alphabet); n_windows = the last window id + 1, exact
    * because per-source window ids are contiguous across blocks. */
  val packWholeReport: Q = Q("text_pack_whole_report",
    "WITH RECURSIVE " + curationOracleBody.stripPrefix("WITH ") + ",\n" +
      wholePackOracleCtes(
        s"""
      |  SELECT source, doc_id, CAST(len(string_split(red, ' ')) AS BIGINT) AS n,
      |    doc_id // $PackBlockDocs AS blk
      |  FROM fin2 WHERE drop_reason IS NULL""".stripMargin) + """
      |SELECT source,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
      |  CAST(MAX(seq_id + (offset_in_seq + GREATEST(n_tokens, 1) - 1) // 512) + 1 AS BIGINT) AS n_windows,
      |  CAST((MAX(seq_id + (offset_in_seq + GREATEST(n_tokens, 1) - 1) // 512) + 1) * 512
      |       - SUM(n_tokens) AS BIGINT) AS pad_tokens,
      |  CAST(COUNT(*) FILTER (WHERE is_split) AS BIGINT) AS n_split_docs,
      |  ROUND(COUNT(*) FILTER (WHERE is_split) / CAST(COUNT(*) AS DOUBLE), 6) AS split_rate,
      |  ROUND(SUM((offset_in_seq + GREATEST(n_tokens, 1) - 1) // 512 + 1)
      |        / CAST(COUNT(*) AS DOUBLE), 6) AS windows_per_doc
      |FROM wppd GROUP BY 1 ORDER BY source""".stripMargin) { (s, dir) =>
    packWholeReportOf(packWholeDocs(
      curationDecisions(s, dir).filter(col("drop_reason").isNull)
        .select(col("source"), col("doc_id"), col("final_tokens").as("n_tokens"))))
  }

  /** Cost weights of the pack-policy decision: a SPLIT doc corrupts
    * one training sample (attention flows across an arbitrary cut —
    * quality cost per affected doc), a PAD token wastes one token of
    * compute (throughput cost per padded slot). Both rates are
    * corpus-normalized fractions in [0,1], and unit-for-unit the two
    * harms are comparable, so the default weighting is 1:1 — the
    * knob is EXPLICIT so an operator who prices sample quality above
    * compute (or vice versa) turns it, and the oracle replays
    * whatever is set here. */
  private[graft] val SplitCostWeight = 1.0
  private[graft] val PadCostWeight = 1.0

  /** PACK-POLICY DECISION — the operator the two efficiency reports
    * exist to feed: per source shard, the weighted cost of the
    * concat policy (splits docs, pads almost nothing) vs the
    * whole-doc policy (splits nothing sub-window, pads window
    * tails), and the argmin. cost = [[SplitCostWeight]]·split_rate +
    * [[PadCostWeight]]·pad_share, every input a ROUND(…,6)
    * engine-portable fact; ties choose whole-doc (at equal cost,
    * boundary preservation is free). A long-doc source (every doc
    * over-window) picks concat — the whole-doc policy splits those
    * docs anyway AND pads; a short-doc source picks whole-doc — the
    * split rate it avoids dwarfs the tail padding (both poles
    * spec-pinned). One broadcast-sized join of two bounded-alphabet
    * rollups; all the heavy lifting rides the memoized decision and
    * pack frames the reports already pay for. */
  val packPolicy: Q = Q("text_pack_policy",
    "WITH RECURSIVE " + curationOracleBody.stripPrefix("WITH ") +
      """
      |, o AS (
      |  SELECT source, doc_id, CAST(len(string_split(red, ' ')) AS BIGINT) AS n_tokens,
      |    COALESCE(SUM(len(string_split(red, ' '))) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
      |  FROM fin2 WHERE drop_reason IS NULL
      |), crep AS (
      |  SELECT source,
      |    ROUND(COUNT(*) FILTER (WHERE start_off // 512 != (start_off + GREATEST(n_tokens, 1) - 1) // 512)
      |          / CAST(COUNT(*) AS DOUBLE), 6) AS split_rate,
      |    ROUND(CAST(((SUM(n_tokens) + 511) // 512) * 512 - SUM(n_tokens) AS DOUBLE)
      |          / (((SUM(n_tokens) + 511) // 512) * 512), 6) AS pad_share
      |  FROM o GROUP BY 1
      |),
      |""".stripMargin +
      wholePackOracleCtes(
        s"""
      |  SELECT source, doc_id, CAST(len(string_split(red, ' ')) AS BIGINT) AS n,
      |    doc_id // $PackBlockDocs AS blk
      |  FROM fin2 WHERE drop_reason IS NULL""".stripMargin) + """
      |, wrep AS (
      |  SELECT source,
      |    ROUND(COUNT(*) FILTER (WHERE is_split) / CAST(COUNT(*) AS DOUBLE), 6) AS split_rate,
      |    ROUND(CAST((MAX(seq_id + (offset_in_seq + GREATEST(n_tokens, 1) - 1) // 512) + 1) * 512
      |               - SUM(n_tokens) AS DOUBLE)
      |          / ((MAX(seq_id + (offset_in_seq + GREATEST(n_tokens, 1) - 1) // 512) + 1) * 512), 6)
      |      AS pad_share
      |  FROM wppd GROUP BY 1
      |)
      |SELECT c.source,
      |  c.split_rate AS split_rate_concat, c.pad_share AS pad_share_concat,
      |  ROUND(1.0 * c.split_rate + 1.0 * c.pad_share, 6) AS cost_concat,
      |  w.split_rate AS split_rate_whole, w.pad_share AS pad_share_whole,
      |  ROUND(1.0 * w.split_rate + 1.0 * w.pad_share, 6) AS cost_whole,
      |  CASE WHEN ROUND(1.0 * w.split_rate + 1.0 * w.pad_share, 6)
      |         <= ROUND(1.0 * c.split_rate + 1.0 * c.pad_share, 6)
      |       THEN 'whole_doc' ELSE 'concat' END AS chosen_policy
      |FROM crep c JOIN wrep w USING (source) ORDER BY c.source""".stripMargin) { (s, dir) =>
    packPolicyOf(
      packEfficiencyOfDecisions(curationDecisions(s, dir)),
      packWholeReportOf(packWholeDocs(
        curationDecisions(s, dir).filter(col("drop_reason").isNull)
          .select(col("source"), col("doc_id"), col("final_tokens").as("n_tokens")))))
  }

  /** The policy argmin over any (concat report, whole-doc report)
    * pair — shared by the batch query, the planted-pole spec, and
    * any stream twin riding drained decision reports. */
  private[graft] def packPolicyOf(concat: DataFrame, whole: DataFrame,
                                  budget: Int = 512): DataFrame = {
    def shaped(rep: DataFrame, suffix: String): DataFrame =
      rep.select(col("source"),
        col("split_rate").as(s"split_rate_$suffix"),
        round(col("pad_tokens").cast("double")
          / (col("n_windows") * budget), 6).as(s"pad_share_$suffix"))
    shaped(concat, "concat").join(shaped(whole, "whole"), Seq("source"))
      .withColumn("cost_concat",
        round(lit(SplitCostWeight) * col("split_rate_concat")
          + lit(PadCostWeight) * col("pad_share_concat"), 6))
      .withColumn("cost_whole",
        round(lit(SplitCostWeight) * col("split_rate_whole")
          + lit(PadCostWeight) * col("pad_share_whole"), 6))
      .withColumn("chosen_policy",
        when(col("cost_whole") <= col("cost_concat"), "whole_doc")
          .otherwise("concat"))
      .select(col("source"),
        col("split_rate_concat"), col("pad_share_concat"), col("cost_concat"),
        col("split_rate_whole"), col("pad_share_whole"), col("cost_whole"),
        col("chosen_policy"))
      .orderBy(col("source"))
  }

  /** The whole-doc-policy report rollup over a [[packWholeDocs]]
    * frame — shared device so a stream twin certifies the identical
    * numbers off drained decisions. */
  private[graft] def packWholeReportOf(packed: DataFrame, budget: Int = 512): DataFrame = {
    val d = packed.withColumn("w1",
      col("seq_id") + expr(s"(offset_in_seq + greatest(n_tokens, 1) - 1) div $budget"))
    d.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        (max(col("w1")) + 1L).as("n_windows"),
        sum(when(col("is_split"), 1L).otherwise(0L)).as("n_split_docs"),
        round(sum(when(col("is_split"), 1L).otherwise(0L))
          / count(lit(1)).cast("double"), 6).as("split_rate"),
        round(sum(col("w1") - col("seq_id") + 1L)
          / count(lit(1)).cast("double"), 6).as("windows_per_doc"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_windows"),
        (col("n_windows") * budget - col("n_tokens")).as("pad_tokens"),
        col("n_split_docs"), col("split_rate"), col("windows_per_doc"))
      .orderBy(col("source"))
  }

  /** The curated corpus EMITTED — not just the manifest: the actual
    * training WINDOWS, identified by the md5 of each 512-token
    * window's reassembled text. Retained docs' final (scrubbed +
    * redacted) token streams concatenate per source shard in doc
    * order; every token gets its global shard offset (pack running
    * sum + in-doc position), windows cut at token 512·k REGARDLESS
    * of doc boundaries (a doc straddling a boundary contributes to
    * both windows — the `text_pack_offsets` is_split case), and each
    * window hashes its ordered token text. This is the strongest
    * end-to-end oracle the pipeline can have: DuckDB rebuilds every
    * training window byte-for-byte through the whole composed stack.
    *
    * Scale shape: the only token-level shuffle is the final
    * (source, window) aggregation — exactly the write pattern of the
    * emission stage itself (each window is one output row/record);
    * everything upstream rides the memoized decision artifacts and
    * one per-source window. Window reassembly is bounded at 512
    * tokens per group (the [[lineReport]] collect device). */
  val curationEmit: Q = Q("text_curation_emit",
    curationOracleBody + emitTokenCtes + """
      |SELECT source, CAST((start_off + i - 1) // 512 AS BIGINT) AS seq_id,
      |  COUNT(*) AS n_tokens,
      |  md5(string_agg(word, ' ' ORDER BY start_off + i - 1)) AS window_fp
      |FROM rw GROUP BY 1, 2 ORDER BY source, seq_id""".stripMargin) { (s, dir) =>
    curationWindows(s, dir).orderBy(col("source"), col("seq_id"))
  }

  /** Per-window DOCUMENT-BOUNDARY manifest for the emitted training
    * windows — the attention-mask contract: a dataloader that packs
    * multiple documents into one 512-token window must mask
    * cross-document attention, so every window ships the
    * window-local offsets where a new document starts (position 0
    * is an implicit segment start when the previous doc straddles
    * in; windows with no boundary — a long doc's interior — are
    * absent and read as full-attention continuation). Boundaries
    * derive from the SAME per-source running token offsets the
    * emission cuts on, so the manifest needs only the doc-level
    * decision record — one row per retained doc, never a token
    * explode; the per-source window is the emission family's
    * established shape (source count is fixed and small; at 100 TB
    * the running sum shards by source exactly like the pack). */
  val curationEmitBounds: Q = Q("text_emit_doc_bounds",
    curationOracleBody + emitTokenCtes + """
      |SELECT source, CAST(start_off // 512 AS BIGINT) AS seq_id,
      |  COUNT(*) AS n_docs_started,
      |  md5(string_agg(CAST(start_off % 512 AS VARCHAR), ',' ORDER BY start_off)) AS bounds_fp
      |FROM ro GROUP BY 1, 2 ORDER BY source, seq_id""".stripMargin) { (s, dir) =>
    emitBoundsOf(curationDecisions(s, dir))
  }

  /** The [[curationEmitBounds]] manifest over any decision-record
    * frame — like [[dataCardOf]], a content-determined fact of the
    * decisions, shared verbatim by the batch query and the
    * consolidated stream's twin. */
  private[graft] def emitBoundsOf(decisions: DataFrame): DataFrame = {
    sourcePrefixSum(
      decisions.filter(col("drop_reason").isNull)
        .select(col("source"), col("doc_id"), col("final_tokens")),
      col("final_tokens"))
      .groupBy(col("source"), floor(col("start_off") / 512).cast("long").as("seq_id"))
      .agg(count(lit(1)).as("n_docs_started"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("start_off"),
            (col("start_off") % 512).cast("string").as("local")))),
          x => x.getField("local")), ",")).as("bounds_fp"))
      .orderBy(col("source"), col("seq_id"))
  }

  /** Position + cut the 512-token windows of a retained-docs frame
    * `(source, doc_id, red, final_tokens)` — shared by the batch
    * emission and the emit-forget lifecycle (which recuts affected
    * source shards from the reduced retained set). */
  private[graft] def emitWindowsOfRetained(retained: DataFrame): DataFrame =
    emitWindows(sourcePrefixSum(retained, col("final_tokens")))

  /** The curated emission's window artifact, memoized + lineage-cut
    * per (application, sf dir): the emission query, the shuffle
    * order, the resume manifest, and the epoch schedules all consume
    * it — without the cut each of those entries re-pays the token
    * explode + window hash per bench rep (the trimodal
    * `trimodalEmitWindows` rule, one modality down). */
  private val curWinMemo = graft.SessionCaches.memo[DataFrame]

  private[graft] def curationWindows(s: SparkSession, dir: String): DataFrame =
    curWinMemo(s, dir) {
      cutLineage(emitWindowsOfRetained(curationDecisions(s, dir)
        .filter(col("drop_reason").isNull)
        .select(col("source"), col("doc_id"), col("red"), col("final_tokens"))))
    }

  /** Window cutting + hashing over positioned retained texts
    * `(source, doc_id, red, start_off)` — shared by the batch emit
    * and the streaming emission's per-batch cut (which feeds global
    * offsets from its carry state instead of a corpus window). */
  private[graft] def emitWindows(positioned: DataFrame): DataFrame =
    positioned
      .select(col("source"), col("start_off"),
        posexplode(split(col("red"), " ")).as(Seq("i", "word")))
      .select(col("source"), (col("start_off") + col("i")).as("pos"), col("word"))
      .groupBy(col("source"), floor(col("pos") / 512).as("seq_id"))
      .agg(count(lit(1)).as("n_tokens"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("word")))),
          x => x.getField("word")), " ")).as("window_fp"))

  /** The emission tokenizer's symbol table applied per word:
    * `(word, j, id)` rows — word's j-th BPE symbol carries symbol id
    * `id` — for every distinct word of the curated (retained,
    * redacted) corpus, memoized + persisted per (application, sf
    * dir). Symbol ids are CONTENT-DERIVED and portable: id =
    * 0-based lexicographic rank of the symbol among the distinct
    * symbols the segmented emission vocabulary uses — the vocab file
    * a dataloader ships beside the shard, identical on any engine,
    * any partitioning, any rerun.
    *
    * Scale shape: the distinct-word frame is vocab-bounded (words,
    * not tokens); the symbol table is bounded by |alphabet| + merge
    * rounds BY CONSTRUCTION (symbols are single characters or one of
    * the ≤ rounds merged strings), so its rank window and the
    * id-assignment join are broadcast-trivial at any corpus size;
    * per-token work downstream joins words to this table under the
    * usual size gate. */
  private val emitSymCache = graft.SessionCaches.memo[(DataFrame, Long)]

  /** The memoized symbol table with its row count — the count feeds
    * the broadcast size gate without paying a Spark action per call
    * (per streaming micro-batch, notably). */
  private[graft] def emitWordSymsStats(s: SparkSession, dir: String): (DataFrame, Long) =
    emitSymCache(s, dir) {
      val words = curationDecisions(s, dir).filter(col("drop_reason").isNull)
        .select(explode(split(col("red"), " ")).as("word")).distinct()
      val seg = words.select(col("word"),
        posexplode(bpeSegments(s, dir, col("word"))).as(Seq("j", "sym")))
      // single-partition rank window: bounded by the SYMBOL alphabet
      // (chars + merge rounds), never by the corpus
      val symtab = seg.select(col("sym")).distinct()
        .withColumn("id", (row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("sym"))) - 1).cast("long"))
      // cut: the table's lineage is the full cascade + BPE fold, and
      // it is JOINED into every window-cut plan (4× per streaming
      // micro-batch)
      val df = cutLineage(seg.join(broadcast(symtab), Seq("sym"))
        .select(col("word"), col("j").cast("long").as("j"), col("id"), col("sym")))
      (df, df.count())
    }

  private[graft] def emitWordSyms(s: SparkSession, dir: String): DataFrame =
    emitWordSymsStats(s, dir)._1

  /** Symbol table over the PRE-QUALITY retained vocabulary — the
    * release artifact of the GATED deployment: the vocab is fixed
    * BEFORE the quality gate (quality is the cascade's last stage, so
    * every retained set under ANY quality scorer — heuristic,
    * learned, or a mid-stream promotion's sentinel — is a subset),
    * which makes the gated ids face OOV-proof under gate flips and
    * keeps the id space stable across model promotions. Same
    * segmentation + sorted-rank rule as [[emitWordSymsStats]]. */
  private val gatedSymCache = graft.SessionCaches.memo[(DataFrame, Long)]

  private[graft] def preQualityWordSymsStats(s: SparkSession, dir: String): (DataFrame, Long) =
    gatedSymCache(s, dir) {
      val words = curationDecideWith(curationMarked(s, dir), lit(false))
        .filter(col("drop_reason").isNull)
        .select(explode(split(col("red"), " ")).as("word")).distinct()
      val seg = words.select(col("word"),
        posexplode(bpeSegments(s, dir, col("word"))).as(Seq("j", "sym")))
      val symtab = seg.select(col("sym")).distinct()
        .withColumn("id", (row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("sym"))) - 1).cast("long"))
      // cut like [[emitWordSymsStats]] — same giant lineage, joined
      // into every GATED window cut
      val df = cutLineage(seg.join(broadcast(symtab), Seq("sym"))
        .select(col("word"), col("j").cast("long").as("j"), col("id"), col("sym")))
      (df, df.count())
    }

  /** The per-WORD id encoding of a symbol table: `(word, ids_csv,
    * nsym)` — the word's symbol ids in j order joined by ',' plus
    * their count. Joining TOKENS against this instead of the
    * per-symbol table keeps the window aggregation's input at one
    * row per token instead of one per symbol (guide §2.3 — shuffle
    * fewer rows), and the window's id sequence is reassembled by
    * concatenating per-word csv fragments in position order —
    * byte-identical to the per-symbol sort by (pos, j). Memoized +
    * lineage-cut per symbol-table memo, vocab-bounded like it. */
  private val wordEncCache = graft.SessionCaches.memo[(DataFrame, Long, Long)]

  /** Returns (enc frame, row count, broadcast-size estimate in bytes).
    * The estimate is sized from the table itself — Σ nsym drives the
    * ids_csv payload (a fixed per-row constant understated tables
    * with long words: ids_csv length scales with symbols per word). */
  private[graft] def wordEncOf(s: SparkSession, dir: String, variant: String,
      symsStats: => (DataFrame, Long)): (DataFrame, Long, Long) =
    wordEncCache(s, dir, variant) {
      val (syms, _) = symsStats
      val df = cutLineage(syms.groupBy(col("word")).agg(
          array_join(transform(
            array_sort(collect_list(struct(col("j"), col("id")))),
            x => x.getField("id").cast("string")), ",").as("ids_csv"),
          count(lit(1)).as("nsym")))
      val r = df.agg(count(lit(1)), coalesce(sum(col("nsym")), lit(0L))).head()
      (df, r.getLong(0), r.getLong(0) * 32L + r.getLong(1) * 8L)
    }

  private[graft] def emitWordEncStats(s: SparkSession, dir: String): (DataFrame, Long, Long) =
    wordEncOf(s, dir, "emit", emitWordSymsStats(s, dir))

  private[graft] def preQualityWordEncStats(s: SparkSession, dir: String): (DataFrame, Long, Long) =
    wordEncOf(s, dir, "preq", preQualityWordSymsStats(s, dir))

  /** [[emitWindows]] extended with the TOKENIZED-ID face of each
    * window: alongside the text fingerprint, every window also hashes
    * its BPE token-ID sequence (each word's symbols in order, words
    * in position order) — the actual dataloader contract a training
    * run consumes. One extra word-keyed join against the (bounded)
    * per-word encoding. Windows are cut at WORD positions, so a
    * word's ids never straddle a boundary and the per-word csv
    * fragments concatenate into exactly the per-symbol sequence. */
  private[graft] def emitWindowsIds(s: SparkSession, dir: String,
                                    positioned: DataFrame): DataFrame =
    emitWindowsIdsWith(emitWordEncStats(s, dir), positioned)

  /** [[emitWindowsIds]] against an explicit per-word encoding — the
    * gated emission cuts with the pre-quality release table
    * ([[preQualityWordEncStats]]) instead of the heuristic-corpus
    * one. */
  private[graft] def emitWindowsIdsWith(encStats: (DataFrame, Long, Long),
                                        positioned: DataFrame): DataFrame = {
    val (enc, _, encBytes) = encStats
    // LEFT join: a word outside the tokenizer vocabulary must fail
    // LOUDLY (raise_error), never silently vanish from the window —
    // an inner join would drop it from BOTH faces (text fingerprint
    // included) and disguise a stream/batch divergence as a
    // confusing fingerprint mismatch
    positioned
      .select(col("source"), col("start_off"),
        posexplode(split(col("red"), " ")).as(Seq("i", "word")))
      .select(col("source"), (col("start_off") + col("i")).as("pos"), col("word"))
      .join(maybeBroadcast(enc, encBytes), Seq("word"), "left_outer")
      .select(col("source"), col("pos"), col("word"), col("nsym"),
        when(col("ids_csv").isNotNull, col("ids_csv"))
          .otherwise(raise_error(concat(
            lit("emission word missing from tokenizer vocabulary: "), col("word"))))
          .as("ids_csv"))
      .groupBy(col("source"), floor(col("pos") / 512).as("seq_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(col("nsym")).as("n_ids"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("word")))),
          x => x.getField("word")), " ")).as("window_fp"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("ids_csv")))),
          x => x.getField("ids_csv")), ",")).as("ids_fp"))
  }

  /** The `ro`/`rw` positioned-token CTEs of the emission oracles —
    * shared by [[curationEmit]], the tokenized-ID emission, and the
    * emission shuffle order. */
  private[graft] def emitTokenCtes: String =
    """
      |, ro AS (
      |  SELECT source, doc_id, red,
      |    COALESCE(SUM(len(string_split(red, ' '))) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
      |  FROM fin2 WHERE drop_reason IS NULL
      |), rw AS (
      |  SELECT source, start_off, unnest(string_split(red, ' ')) AS word,
      |         generate_subscripts(string_split(red, ' '), 1) AS i
      |  FROM ro
      |)""".stripMargin

  /** Curated emission as TOKEN-ID windows — the dataloader contract:
    * every 512-token window of the curated stream, identified by the
    * md5 of its BPE token-ID sequence (the trained
    * [[bpeTrain]] merges segment each emitted word; symbol ids come
    * from the sorted symbol vocabulary — [[emitWordSyms]]). The
    * oracle replays the ENTIRE program end to end: the nine-stage
    * curation stack, the 16-round BPE train, the segmentation of the
    * emission vocabulary (redaction markers and plant words included
    * — OOV against the raw training vocab, segmented by the same
    * merge fold), the sorted symbol-id assignment, and every
    * window's id-sequence hash.
    *
    * Scale shape: identical to [[curationEmit]] plus one word-keyed
    * join against the bounded symbol table (broadcast under the size
    * gate); the only token-level shuffle remains the final
    * (source, window) aggregation. */
  val curationEmitIds: Q = Q("text_curation_emit_ids",
    curationOracleBody + ",\n" + bpeOracleBody(BpeRounds) + emitTokenCtes + s""",
      |dw AS (SELECT DISTINCT word FROM rw),
      |d0 AS (SELECT word, '  ' || regexp_replace(word, '(.)', '\\1  ', 'g') AS st FROM dw),
      |${(1 to BpeRounds).map(r =>
          s"d$r AS (SELECT word, replace(st, ' ' || m.l || '  ' || m.r || ' '," +
            s" ' ' || m.l || m.r || ' ') AS st FROM d${r - 1}, m$r m)").mkString(",\n")},
      |dsym AS (SELECT word, unnest(string_split(trim(st), '  ')) AS sym,
      |         generate_subscripts(string_split(trim(st), '  '), 1) - 1 AS j FROM d$BpeRounds),
      |symtab AS (SELECT sym, CAST(ROW_NUMBER() OVER (ORDER BY sym) - 1 AS BIGINT) AS id
      |           FROM (SELECT DISTINCT sym FROM dsym)),
      |wid AS (SELECT word, j, id FROM dsym JOIN symtab USING (sym)),
      |idrows AS (SELECT source, start_off + i - 1 AS pos, j, id
      |           FROM rw JOIN wid USING (word))
      |SELECT source, CAST(pos // 512 AS BIGINT) AS seq_id,
      |  CAST(COUNT(*) FILTER (WHERE j = 0) AS BIGINT) AS n_tokens,
      |  COUNT(*) AS n_ids,
      |  md5(string_agg(CAST(id AS VARCHAR), ',' ORDER BY pos, j)) AS ids_fp
      |FROM idrows GROUP BY 1, 2 ORDER BY source, seq_id""".stripMargin) { (s, dir) =>
    val retained = curationDecisions(s, dir)
      .filter(col("drop_reason").isNull)
      .select(col("source"), col("doc_id"), col("red"), col("final_tokens"))
    emitWindowsIds(s, dir, sourcePrefixSum(retained, col("final_tokens")))
      .select(col("source"), col("seq_id"), col("n_tokens"), col("n_ids"), col("ids_fp"))
      .orderBy(col("source"), col("seq_id"))
  }

  /** Token-ID FREQUENCY table of the emitted training stream — the
    * unigram distribution a tokenizer release ships (it drives vocab
    * pruning and under-trained-token audits). Computed
    * frequency-weighted: the only corpus-scaled op is the word-count
    * aggregate over the retained redacted stream (map-side combine
    * on a vocab-bounded key), then the counts join the
    * |vocab|·symbols-per-word bounded segment table and roll up by
    * id — at 100 TB no per-token symbol explode ever happens, the
    * token mass rides the word counts. Oracle replays curation, BPE
    * train, segmentation, sorted symbol ids, and the weighted sum. */
  val emitIdFreq: Q = Q("text_emit_id_freq",
    curationOracleBody + ",\n" + bpeOracleBody(BpeRounds) + emitTokenCtes + s""",
      |dw AS (SELECT DISTINCT word FROM rw),
      |d0 AS (SELECT word, '  ' || regexp_replace(word, '(.)', '\\1  ', 'g') AS st FROM dw),
      |${(1 to BpeRounds).map(r =>
          s"d$r AS (SELECT word, replace(st, ' ' || m.l || '  ' || m.r || ' '," +
            s" ' ' || m.l || m.r || ' ') AS st FROM d${r - 1}, m$r m)").mkString(",\n")},
      |dsym AS (SELECT word, unnest(string_split(trim(st), '  ')) AS sym FROM d$BpeRounds),
      |symtab AS (SELECT sym, CAST(ROW_NUMBER() OVER (ORDER BY sym) - 1 AS BIGINT) AS id
      |           FROM (SELECT DISTINCT sym FROM dsym)),
      |wc AS (SELECT word, COUNT(*) AS wc FROM rw GROUP BY 1)
      |SELECT t.id, d.sym, CAST(SUM(c.wc) AS BIGINT) AS n_occurrences
      |FROM dsym d JOIN symtab t USING (sym) JOIN wc c USING (word)
      |GROUP BY 1, 2 ORDER BY 1""".stripMargin) { (s, dir) =>
    emitIdFreqOf(s, dir, curationDecisions(s, dir))
  }

  /** The [[emitIdFreq]] rollup over any decision-record frame. The
    * symbol table is the RELEASE artifact (built once from the
    * certified decisions — streamed ≡ batch decisions is its own
    * oracle row), so the continuous twin weighs its landed records
    * against the same table. */
  private[graft] def emitIdFreqOf(s: SparkSession, dir: String,
                                  decisions: DataFrame): DataFrame = {
    val wc = decisions.filter(col("drop_reason").isNull)
      .select(explode(split(col("red"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
    val (syms, nSyms) = emitWordSymsStats(s, dir)
    // LEFT join + raise: a word outside the release vocabulary must
    // fail LOUDLY (the emitWindowsIds contract) — an inner join would
    // silently under-count and disguise a stream/batch divergence
    wc.join(maybeBroadcast(syms, nSyms * 48L), Seq("word"), "left_outer")
      .select(col("wc"), col("sym"),
        when(col("id").isNotNull, col("id"))
          .otherwise(raise_error(concat(
            lit("frequency word missing from tokenizer vocabulary: "), col("word"))))
          .as("id"))
      .groupBy(col("id"), col("sym"))
      .agg(sum(col("wc")).cast("long").as("n_occurrences"))
      .orderBy(col("id"))
  }

  /** One forget-lifecycle emission store per (application, sf dir):
    * promotes the full window artifact, then propagates a withdrawal
    * (docs with doc_id % 20 = 7) — the rewrite keeps untouched
    * sources' windows AS-IS and recuts affected shards from the
    * reduced retained set (emission offsets are per-source running
    * sums, so the recut is exactly shard-local — the partition-pruned
    * CowMerge shape; at 100 TB forgetting one doc recuts one shard,
    * not the corpus); gc makes the withdrawal durable. The decision
    * RECORD stays immutable history — this is content withdrawal
    * from the derived training artifact, the `text_pack_forget`
    * contract applied to the windows a dataloader actually reads. */
  /** The forget world's memo value owns its store — declared via the
    * [[graft.Reapable]] contract so eviction reaps the on-disk tree;
    * `before`/`rebuilt` are lineage-cut certificate artifacts (the
    * full and reduced emissions are content-determined release
    * artifacts — recomputing them per bench rep paid the whole
    * curation lineage twice per run). */
  private final case class EmitForgetWorld(store: graft.sources.FrameStore,
      before: DataFrame, rebuilt: DataFrame) extends graft.Reapable {
    def reapRoots: Seq[String] = Seq(store.root)
  }

  private val emitForgetMemo = graft.SessionCaches.memo[EmitForgetWorld]

  private def forgottenEmitWorld(s: SparkSession, dir: String): EmitForgetWorld =
    emitForgetMemo(s, dir) {
      val retained = curationDecisions(s, dir).filter(col("drop_reason").isNull)
        .select(col("source"), col("doc_id"), col("red"), col("final_tokens"))
      val store = new graft.sources.FrameStore(
        graft.sources.Scratch.dir("graft-forget-emit-").toString)
      // full and reduced emissions materialized ONCE each (lineage
      // cut) and shared between the store lifecycle and the cert —
      // the cert's substantive content is untouched-shard
      // preservation + gc durability against the store's own parquet
      val before = cutLineage(emitWindowsOfRetained(retained))
      store.publish(s, "emit_windows", before)
      val affected = retained.filter(col("doc_id") % 20 === 7)
        .select(col("source")).distinct()
      val rebuilt = cutLineage(emitWindowsOfRetained(retained.filter(col("doc_id") % 20 =!= 7)))
      store.rewrite(s, "emit_windows") { df =>
        df.join(broadcast(affected), Seq("source"), "left_anti")
          .unionByName(rebuilt.join(broadcast(affected), Seq("source")))
      }
      store.gc("emit_windows", keep = 0)
      EmitForgetWorld(store, before = before, rebuilt = rebuilt)
    }

  /** Bench warm hook: build the forget world once, attributed. */
  private[graft] def warmEmitForget(s: SparkSession, dir: String): Unit = {
    forgottenEmitWorld(s, dir); ()
  }

  /** Forget propagation to the EMITTED TRAINING WINDOWS — the
    * right-to-be-forgotten contract on the artifact a training run
    * actually consumes: withdrawing a retained doc's content must
    * invalidate every window built from it AND every later window in
    * its source shard (token offsets shift), not just delete rows.
    * After the shard-pruned rewrite + gc, the promoted window set
    * must be ROW-IDENTICAL to windows recut from scratch on the
    * reduced retained set — a forgotten doc's text is gone from every
    * window fingerprint. Counts are oracle-recomputed through the
    * full curation stack; the equality boolean is TRUE in the
    * oracle. */
  val emitForget: Q = Q("text_emit_forget",
    curationOracleBody + emitTokenCtes + """,
      |ewb AS (SELECT source, CAST((start_off + i - 1) // 512 AS BIGINT) AS seq_id
      |        FROM rw GROUP BY 1, 2),
      |ro2 AS (
      |  SELECT source, doc_id, red,
      |    COALESCE(SUM(len(string_split(red, ' '))) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
      |  FROM fin2 WHERE drop_reason IS NULL AND doc_id % 20 <> 7
      |), rw2 AS (
      |  SELECT source, start_off, unnest(string_split(red, ' ')) AS word,
      |         generate_subscripts(string_split(red, ' '), 1) AS i
      |  FROM ro2
      |), ewa AS (SELECT source, CAST((start_off + i - 1) // 512 AS BIGINT) AS seq_id
      |           FROM rw2 GROUP BY 1, 2)
      |SELECT
      |  (SELECT COUNT(*) FROM ewb) AS n_windows_before,
      |  (SELECT COUNT(*) FROM ewa) AS n_windows_after,
      |  (SELECT COUNT(*) FROM fin2 WHERE drop_reason IS NULL AND doc_id % 20 = 7)
      |    AS n_docs_forgotten,
      |  (SELECT COUNT(DISTINCT source) FROM fin2 WHERE drop_reason IS NULL AND doc_id % 20 = 7)
      |    AS n_sources_affected,
      |  TRUE AS forget_equals_rebuild""".stripMargin) { (s, dir) =>
    val retained = curationDecisions(s, dir).filter(col("drop_reason").isNull)
      .select(col("source"), col("doc_id"), col("red"), col("final_tokens"))
    val world = forgottenEmitWorld(s, dir)
    val after = world.store.production(s, "emit_windows")
    val rebuilt = world.rebuilt
    val cols = Seq("n_tokens", "window_fp")
    val diff = after.as("a").join(rebuilt.as("r"), Seq("source", "seq_id"), "full_outer")
      .filter(!cols.map(c => col(s"a.$c") <=> col(s"r.$c")).reduce(_ && _))
      .agg(count(lit(1)).as("n_diff"))
    val forgotten = retained.filter(col("doc_id") % 20 === 7)
    world.before.agg(count(lit(1)).as("n_windows_before"))
      .crossJoin(broadcast(rebuilt.agg(count(lit(1)).as("n_windows_after"))))
      .crossJoin(broadcast(forgotten.agg(count(lit(1)).as("n_docs_forgotten"),
        countDistinct(col("source")).as("n_sources_affected"))))
      .crossJoin(broadcast(diff))
      .select(col("n_windows_before"), col("n_windows_after"),
        col("n_docs_forgotten"), col("n_sources_affected"),
        (col("n_diff") === 0).as("forget_equals_rebuild"))
  }

  /** Deterministic training-order shuffle COMPOSED OVER THE CURATED
    * EMISSION — the [[shuffleOrder]] md5 shard/rank/offset machinery
    * keyed on each emitted window's content fingerprint, so the one
    * artifact a training run reads in order (the curated window
    * stream) is the one that HAS an order. Same scale shape as
    * [[shuffleOrder]]: content-derived shards bound the rank windows,
    * the 16-row shard-offset frame broadcasts back, and the display
    * sort rides a range exchange (the existing exchange-discipline
    * plan pin carries over). Ties (duplicate window content ⇒ equal
    * sort keys) break on (source, seq_id) so the order is total on
    * any engine. */
  val curationShuffle: Q = Q("text_curation_shuffle",
    curationOracleBody + emitTokenCtes + """,
      |ew AS (
      |  SELECT source, CAST((start_off + i - 1) // 512 AS BIGINT) AS seq_id,
      |    COUNT(*) AS n_tokens,
      |    md5(string_agg(word, ' ' ORDER BY start_off + i - 1)) AS window_fp
      |  FROM rw GROUP BY 1, 2
      |), k AS (
      |  SELECT source, seq_id, n_tokens, window_fp,
      |    md5('shuffle:' || window_fp) AS sort_key
      |  FROM ew
      |), k2 AS (
      |  SELECT *, CAST(('0x' || substr(sort_key, 1, 1)) AS BIGINT) AS shard FROM k
      |)
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY sort_key, source, seq_id) AS BIGINT) AS ord,
      |  shard,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY sort_key, source, seq_id) AS BIGINT) AS pos,
      |  sort_key, source, seq_id, n_tokens, window_fp
      |FROM k2 ORDER BY ord""".stripMargin) { (s, dir) =>
    shuffleRankWindows(curationWindows(s, dir))
  }

  /** DATALOADER RESUME MANIFEST over any shuffle-order frame
    * (`ord`/`shard`/`pos`/`window_fp` — [[shuffleRankCore]]'s
    * contract): a training run that consumed the first
    * ⌊frac·total⌋ steps of the global order checkpoints ONE number;
    * this manifest is what each rank needs to continue WITHOUT
    * replaying — per rank shard, how many of its windows the global
    * watermark covers, how many remain, the in-shard position to
    * seek to, and the fingerprint of the window that must be found
    * there (the integrity fact a resume verifies before training
    * continues — a recut release or a re-rolled order fails the fp
    * probe instead of silently double-feeding data).
    *
    * Scale shape: one count-to-1-row aggregate broadcast back (the
    * watermark), one pass over the order frame, and a group on the
    * 16-shard alphabet — no new corpus-scaled shuffle beside the
    * order the release already owns; a fully-consumed shard yields
    * NULL seek facts rather than a phantom position. */
  private[graft] def resumeManifest(order: DataFrame, frac: Double,
                                    fpCol: String = "window_fp"): DataFrame = {
    val k = order.agg(floor(count(lit(1)) * frac).cast("long").as("k"))
    order.crossJoin(broadcast(k))
      .groupBy(col("shard"))
      .agg(
        count(when(col("ord") <= col("k"), 1)).as("n_consumed"),
        count(when(col("ord") > col("k"), 1)).as("n_remaining"),
        min(when(col("ord") > col("k"), col("pos"))).as("next_pos"),
        min(when(col("ord") > col("k"),
          struct(col("pos"), col(fpCol)))).as("nw"))
      .select(col("shard"), col("n_consumed"), col("n_remaining"),
        col("next_pos"), col("nw").getField(fpCol).as(s"next_$fpCol"))
      .orderBy(col("shard"))
  }

  /** The shared resume-oracle tail: group the wrapped shuffle-order
    * subquery by rank shard under the ⌊frac·total⌋ watermark.
    * `fpCol` is the content fingerprint the resumed rank probes at
    * its seek position (window_fp for window orders; the md5
    * sort_key for doc-level schedules). */
  private[graft] def resumeOracleSql(orderSql: String, frac: Double,
                                     fpCol: String = "window_fp"): String =
    // plain concatenation — an outer stripMargin would eat the
    // leading '|' of any embedded oracle line that begins with the
    // SQL concat operator '||'
    s"WITH o AS (SELECT * FROM ($orderSql) t),\n" +
      s"kk AS (SELECT CAST(FLOOR(COUNT(*) * $frac) AS BIGINT) AS k FROM o)\n" +
      "SELECT shard,\n" +
      "  COUNT(*) FILTER (WHERE ord <= k) AS n_consumed,\n" +
      "  COUNT(*) FILTER (WHERE ord > k) AS n_remaining,\n" +
      "  MIN(pos) FILTER (WHERE ord > k) AS next_pos,\n" +
      s"  arg_min($fpCol, pos) FILTER (WHERE ord > k) AS next_$fpCol\n" +
      "FROM o, kk GROUP BY shard ORDER BY shard"

  /** Resume the CURATED TEXT run mid-epoch: the manifest over
    * [[curationShuffle]]'s order at the 60% watermark — the
    * checkpoint-restart contract of the text release's dataloader. */
  val curationResume: Q = Q("text_curation_resume",
    resumeOracleSql(curationShuffle.oracle.get, 0.6)) { (s, dir) =>
    resumeManifest(shuffleRankWindows(curationWindows(s, dir)), 0.6)
  }

  /** Multi-epoch orders over the curated TEXT windows — the
    * [[epochOrdersTrimodal]] device on the text release (same salt
    * rule, the window family's own columns). */
  private[graft] def epochOrdersWindows(windows: DataFrame, epochs: Int): DataFrame =
    (0 until epochs).map { e =>
      shuffleRankCore(
        windows.withColumn("sort_key",
          md5(concat(lit(s"shuffle:e$e:"), col("window_fp")))),
        out = Seq(col("source"), col("seq_id"), col("n_tokens"), col("window_fp")))
        .withColumn("epoch", lit(e.toLong))
    }.reduce(_.unionByName(_))
      .select(col("epoch"), col("ord"), col("shard"), col("pos"),
        col("sort_key"), col("source"), col("seq_id"),
        col("n_tokens"), col("window_fp"))
      .orderBy(col("epoch"), col("ord"))

  /** Multi-epoch training orders over the curated text release —
    * each epoch reorders the IDENTICAL window set under an
    * epoch-salted content key, so a multi-epoch run sees genuinely
    * different orders (no batch-composition reinforcement) while
    * every epoch stays bit-reproducible on any engine. */
  val curationEpochs: Q = Q("text_curation_epochs",
    "WITH w AS (SELECT * FROM (" + curationEmit.oracle.get + ") t),\n" +
      "e AS (SELECT CAST(0 AS BIGINT) AS epoch, * FROM w\n" +
      "      UNION ALL SELECT CAST(1 AS BIGINT), * FROM w),\n" +
      "k AS (SELECT epoch, source, seq_id, n_tokens, window_fp,\n" +
      "        md5('shuffle:e' || epoch || ':' || window_fp) AS sort_key FROM e),\n" +
      "k2 AS (SELECT *, CAST(('0x' || substr(sort_key, 1, 1)) AS BIGINT) AS shard FROM k)\n" +
      "SELECT epoch,\n" +
      "  CAST(ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY sort_key, source, seq_id) AS BIGINT) AS ord,\n" +
      "  shard,\n" +
      "  CAST(ROW_NUMBER() OVER (PARTITION BY epoch, shard ORDER BY sort_key, source, seq_id) AS BIGINT) AS pos,\n" +
      "  sort_key, source, seq_id, n_tokens, window_fp\n" +
      "FROM k2 ORDER BY epoch, ord") { (s, dir) =>
    epochOrdersWindows(curationWindows(s, dir), 2)
  }

  /** The window-keyed shuffle-rank program over
    * `(source, seq_id, n_tokens, window_fp)` — shared by the batch
    * composition and the streaming drain (which ranks the landed
    * window artifact of the consolidated stream pass). */
  private[graft] def shuffleRankWindows(windows: DataFrame): DataFrame =
    shuffleRankCore(
      windows.withColumn("sort_key", md5(concat(lit("shuffle:"), col("window_fp")))),
      out = Seq(col("source"), col("seq_id"), col("n_tokens"), col("window_fp")))

  /** The shuffle-rank program over TRIMODAL windows `(shard, seq_id,
    * n_tokens, n_patch, window_fp)` — the emission's own shard key
    * renames to `data_shard` (the rank machinery owns `shard`). */
  private[graft] def shuffleRankTrimodal(windows: DataFrame): DataFrame =
    shuffleRankCore(
      windows.withColumnRenamed("shard", "data_shard")
        .withColumn("sort_key", md5(concat(lit("shuffle:"), col("window_fp")))),
      out = Seq(col("data_shard"), col("seq_id"), col("n_tokens"),
        col("n_patch"), col("window_fp")),
      tie = Seq(col("data_shard"), col("seq_id")))

  /** MULTI-EPOCH training orders over trimodal windows — a run that
    * sees the data E times must see a DIFFERENT order each epoch
    * (same-order epochs reinforce batch composition artifacts), and
    * each epoch's order must still be content-derived and total so
    * every epoch is reproducible and oracle-checkable. One
    * [[shuffleRankCore]] program per epoch with the epoch salted
    * into the md5 key; the union is E independent rank programs over
    * the same bounded window frame — no new scale shape, E is a
    * training config constant. */
  private[graft] def epochOrdersTrimodal(windows: DataFrame, epochs: Int): DataFrame =
    (0 until epochs).map { e =>
      shuffleRankCore(
        windows.withColumnRenamed("shard", "data_shard")
          .withColumn("sort_key",
            md5(concat(lit(s"shuffle:e$e:"), col("window_fp")))),
        out = Seq(col("data_shard"), col("seq_id"), col("n_tokens"),
          col("n_patch"), col("window_fp")),
        tie = Seq(col("data_shard"), col("seq_id")))
        .withColumn("epoch", lit(e.toLong))
    }.reduce(_.unionByName(_))
      .select(col("epoch"), col("ord"), col("shard"), col("pos"),
        col("sort_key"), col("data_shard"), col("seq_id"),
        col("n_tokens"), col("n_patch"), col("window_fp"))
      .orderBy(col("epoch"), col("ord"))

  /** The per-source concat-then-chunk packing over a retained-docs
    * frame `(source, doc_id, n_tokens)` — shared by [[curationPack]]
    * and the streaming curation composition (which packs the landed
    * retained corpus after the stream drains). */
  private[graft] def packRetained(retained: DataFrame): DataFrame = {
    sourcePrefixSum(
      retained.select(col("source"), col("doc_id"), col("n_tokens")),
      col("n_tokens"))
      .groupBy(col("source"), floor(col("start_off") / 512).as("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("seq_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("source"), col("seq_id"))
  }

  /** Per-source corpus report card — the summary a curation pipeline
    * publishes per ingest feed: volume, exact-dup rate (distinct
    * content fingerprints vs rows), language spread, and mean quality
    * score. Composes the per-doc [[quality]] frame with the raw doc
    * attributes through one doc_id join, then a single groupBy on the
    * low-cardinality source key; COUNT(DISTINCT fp) is the only
    * distinct shuffle and rides the same aggregation. */
  val corpusReport: Q = Q("text_corpus_report",
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |), q AS (
      |  SELECT doc_id,
      |    ROUND(((CAST(0.4 AS DOUBLE) * least(CAST(len(w) AS DOUBLE) / 50.0, 1.0))
      |      + (CAST(0.3 AS DOUBLE) * (1.0 - (CAST(len(list_filter(w, x -> x = 'the' OR x = 'a')) AS DOUBLE) / len(w)))))
      |      + (CAST(0.3 AS DOUBLE) * (CAST(len(list_distinct(w)) AS DOUBLE) / len(w))), 6) AS quality_score
      |  FROM t
      |), d AS (
      |  SELECT doc_id, source, lang, n_chars, md5(text) AS fp FROM documents
      |)
      |SELECT source,
      |  COUNT(*) AS n_docs,
      |  COUNT(DISTINCT fp) AS n_unique,
      |  ROUND(1.0 - CAST(COUNT(DISTINCT fp) AS DOUBLE) / COUNT(*), 6) AS dup_rate,
      |  COUNT(DISTINCT lang) AS n_langs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  ROUND(AVG(quality_score), 6) AS avg_quality
      |FROM d JOIN q USING (doc_id)
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val perDoc = quality.fn(s, dir).select(col("doc_id"), col("quality_score"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
        md5(col("text")).as("fp"))
      .join(perDoc, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_unique"),
        r6(lit(1.0) - countDistinct(col("fp")).cast("double") / count(lit(1))).as("dup_rate"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_chars")).as("total_chars"),
        r6(avg(col("quality_score"))).as("avg_quality"))
      .orderBy(col("source"))
  }

  /** Corpus-level top bigrams — the n-gram frequency pass every
    * corpus audit runs (domain drift, boilerplate detection). One
    * explode → one hash-aggregate shuffle on the bigram key →
    * TakeOrdered(25); partial aggregation absorbs the per-doc
    * repetition before the shuffle, so bytes shuffled are bounded by
    * the distinct-bigram count, not the token count. The bigram key
    * is part of the sort, so the top-25 cut is total-ordered. */
  val topNgrams: Q = Q("text_top_ngrams",
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |), b AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bigram
      |  FROM t WHERE len(w) >= 2
      |)
      |SELECT bigram, COUNT(*) AS occurrences, COUNT(DISTINCT doc_id) AS n_docs
      |FROM b GROUP BY 1
      |ORDER BY occurrences DESC, bigram LIMIT 25""".stripMargin) { (s, dir) =>
    tokenized(Tables.documents(s, dir))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"),
        explode(expr("transform(sequence(0, size(w)-2), i -> concat(w[i], ' ', w[i+1]))"))
          .as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("occurrences"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("occurrences").desc, col("bigram"))
      .limit(25)
  }

  /** Token-length histogram over power-of-two buckets — the length
    * profile batch-assembly pipelines use to pack training sequences.
    * Pure per-row bucketing (codegen stage) into a tiny grouped
    * aggregate; one shuffle on ~20 bucket keys at any corpus size. */
  val lengthBuckets: Q = Q("text_length_buckets",
    """WITH t AS (
      |  SELECT len(string_split(text, ' ')) AS n_tokens, n_chars FROM documents
      |)
      |SELECT CAST(pow(2, floor(log2(n_tokens))) AS BIGINT) AS bucket_lo,
      |  COUNT(*) AS n_docs,
      |  ROUND(AVG(CAST(n_tokens AS DOUBLE)), 6) AS avg_tokens,
      |  ROUND(AVG(CAST(n_chars AS DOUBLE)), 6) AS avg_chars
      |FROM t WHERE n_tokens >= 1
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    tokenized(Tables.documents(s, dir))
      .select(size(col("w")).cast("long").as("n_tokens"), col("n_chars"))
      .filter(col("n_tokens") >= 1)
      .groupBy(pow(lit(2), floor(log2(col("n_tokens")))).cast("long").as("bucket_lo"))
      .agg(count(lit(1)).as("n_docs"),
        r6(avg(col("n_tokens").cast("double"))).as("avg_tokens"),
        r6(avg(col("n_chars").cast("double"))).as("avg_chars"))
      .orderBy(col("bucket_lo"))
  }

  /** Per-source vocabulary stats — type/token ratios per ingest feed
    * (vocabulary collapse is the classic symptom of a broken feed).
    * Explode → one grouped aggregate on the low-cardinality source
    * key; the two COUNT(DISTINCT)s ride the same aggregate via
    * expand (2× the exploded rows into the partial agg, still one
    * shuffle, no join). */
  val vocabBySource: Q = Q("text_vocab_by_source",
    """WITH tok AS (
      |  SELECT source, doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      |)
      |SELECT source,
      |  COUNT(DISTINCT doc_id) AS n_docs,
      |  COUNT(*) AS n_tokens,
      |  COUNT(DISTINCT tok) AS vocab,
      |  ROUND(CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT tok), 6) AS tokens_per_type
      |FROM tok GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    // Shared (doc, token) counts again: n_tokens = Σtf, and the two
    // COUNT(DISTINCT)s expand |distinct (doc,token)| rows instead of
    // every token occurrence in the corpus.
    tokenCounts(s, dir)
      .groupBy(col("source"))
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        sum(col("tf")).as("n_tokens"),
        countDistinct(col("tok")).as("vocab"),
        r6(sum(col("tf")).cast("double") / countDistinct(col("tok"))).as("tokens_per_type"))
      .orderBy(col("source"))
  }

  /** TF-IDF top-3 terms per document — the keyword-extraction pass
    * (dedup explanations, topic tagging) in its canonical distributed
    * shape: tf = one (doc, token) aggregate, df = one token aggregate
    * over tf (already distinct per doc), idf joined back on the token
    * key (vocab-sized — AQE broadcasts while it fits), then the
    * filtered-row_number idiom for the per-doc cut. With the graft
    * extensions attached, [[graft.plans.WindowTopKRewrite]] turns the
    * cut into the bounded-heap operator even though `rn` stays in the
    * output — [[graft.plans.TopKPerKeyExec]] emits the row_number
    * value natively from its sorted per-key drain.
    *
    * RANKING is done on an integer key — `tf * round(idf·1e6)` — not
    * the raw double score: the two engines' `ln` may differ in the
    * last ulp, and a rank flip between near-tied terms would be an
    * artifact of libm, not semantics. Micro-unit idf makes the order
    * (and therefore the emitted rows) engine-exact; the displayed
    * score stays the conventional rounded double. */
  val tfidfTopK: Q = Q("text_tfidf_topk",
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |), tok AS (
      |  SELECT doc_id, unnest(w) AS tok FROM t
      |), tf AS (
      |  SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY 1, 2
      |), df AS (
      |  SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1
      |), n AS (
      |  SELECT COUNT(*) AS n_docs FROM documents
      |), sc AS (
      |  SELECT tf.doc_id, tf.tok, tf.tf, df.df,
      |    tf.tf * CAST(round(ln((n.n_docs + 1.0) / (df.df + 1)) * 1000000) AS BIGINT) AS score_key,
      |    ROUND(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1)), 6) AS score
      |  FROM tf JOIN df USING (tok) CROSS JOIN n
      |), r AS (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score_key DESC, tok) AS rn
      |  FROM sc
      |)
      |SELECT doc_id, rn, tok, tf, df, score FROM r
      |WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val tf = tokenCounts(s, dir).select(col("doc_id"), col("tok"), col("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val idf = log((col("n_docs") + lit(1)).cast("double") / (col("df") + lit(1)))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score_key").desc, col("tok"))
    tf.join(dfreq, "tok")
      .crossJoin(broadcast(nDocs)) // 1-row n_docs broadcast onto every (doc, tok)
      .withColumn("score_key", col("tf") * round(idf * lit(1e6)).cast("long"))
      .withColumn("score", r6(col("tf") * idf))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("rn").cast("long").as("rn"), col("tok"),
        col("tf"), col("df"), col("score"))
      .orderBy(col("doc_id"), col("rn"))
  }

  /** Distinct hashed word 8-grams per doc as `(doc_id, h)` postings —
    * the long-n-gram representation benchmark decontamination works
    * from. Same hash-don't-materialize scheme as
    * [[hashedShingleArrays]] (token longs via xxhash64, one more
    * xxhash64 over each consecutive 8-tuple), just wider: long grams
    * only collide across documents when a run of text was actually
    * copied, which is the property decontamination needs. */
  private[graft] def hashedGrams8(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    tokenized(docs)
      .filter(size(col("w")) >= 8)
      .select(col("doc_id"), explode(expr("graft_hashed_ngrams(w, 8)")).as("h"))
  }

  /** Benchmark decontamination — flag training documents whose long
    * word n-grams overlap a held-out benchmark split, the filter every
    * published LLM data pipeline runs so eval text never leaks into
    * training (reference corpus role: `documents`; split = `doc_id %
    * 4 = 3` as the benchmark quarter). Width 8 matters: on this
    * corpus the 3-shingle union SATURATES as the corpus grows (small
    * vocabulary ⇒ the benchmark quarter eventually contains every
    * trigram, flagging 100% of training docs at sf0.1), while 8-gram
    * overlap stays cleanly bimodal at every SF — docs sharing a
    * copied run score ≥ 0.8, everything else has zero hits — which is
    * exactly why production decontamination uses long grams (8-13).
    *
    * Shape: the benchmark gram set is ~|corpus|/4 deduped 8-byte
    * keys — broadcast while it fits ([[maybeBroadcast]]), degrading
    * to a shuffle hash join at 100 TB; the training side then takes
    * ONE pass (left join marks hits, a single per-doc aggregate
    * counts grams and hits together). No all-pairs step anywhere; the
    * flagged list is tiny and the clean corpus is its anti-join. */
  val decontaminate: Q = Q("text_decontaminate",
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |words AS (SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS i FROM tok),
      |g0 AS (SELECT doc_id, word,
      |         lead(word, 1) OVER win8 AS w1, lead(word, 2) OVER win8 AS w2,
      |         lead(word, 3) OVER win8 AS w3, lead(word, 4) OVER win8 AS w4,
      |         lead(word, 5) OVER win8 AS w5, lead(word, 6) OVER win8 AS w6,
      |         lead(word, 7) OVER win8 AS w7
      |       FROM words WINDOW win8 AS (PARTITION BY doc_id ORDER BY i)),
      |g AS (SELECT DISTINCT doc_id,
      |        word || ' ' || w1 || ' ' || w2 || ' ' || w3 || ' ' || w4
      |          || ' ' || w5 || ' ' || w6 || ' ' || w7 AS s
      |      FROM g0 WHERE w7 IS NOT NULL),
      |bench AS (SELECT DISTINCT s FROM g WHERE doc_id % 4 = 3),
      |train AS (SELECT doc_id, s FROM g WHERE doc_id % 4 <> 3),
      |agg AS (SELECT t.doc_id, COUNT(*) AS n_grams, COUNT(b.s) AS n_hit
      |        FROM train t LEFT JOIN bench b ON t.s = b.s GROUP BY 1)
      |SELECT doc_id, n_grams, n_hit,
      |  ROUND(CAST(n_hit AS DOUBLE) / n_grams, 6) AS overlap
      |FROM agg WHERE CAST(n_hit AS DOUBLE) / n_grams >= 0.5
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    contaminationAgg(s, dir)
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        r6(col("n_hit").cast("double") / col("n_grams")).as("overlap"))
      .orderBy(col("doc_id"))
  }

  /** The benchmark 8-gram set as a PERSISTED versioned artifact —
    * the decontamination analog of the dedup shingle index
    * ([[graft.streaming.StreamingDedup]]): a continuously-ingesting
    * pipeline screens every arriving batch against the benchmark
    * grams, so the gram set must be a promoted on-disk index loaded
    * per batch, not a frame rebuilt per run. Memoized per
    * (application, sf dir). */
  private val benchGramMemo = graft.SessionCaches.memo[graft.sources.FrameStore]

  private[graft] def benchGramStore(s: SparkSession, dir: String): graft.sources.FrameStore =
    benchGramMemo(s, dir) {
      val store = new graft.sources.FrameStore(
        graft.sources.Scratch.dir("graft-bench-grams-").toString)
      val bench = hashedGrams8(Tables.fanOut(Tables.documents(s, dir)))
        .filter(col("doc_id") % 4 === 3)
        .select(col("h")).distinct()
      store.publish(s, "bench_grams", bench)
      store
    }

  /** INCREMENTAL decontamination — `text_dedup_incremental`'s shape
    * applied to benchmark screening: only the NEW training docs (top
    * 10% of doc_ids) are 8-gram-hashed and joined against the
    * persisted benchmark gram index; the corpus is never rescanned.
    * Per-arrival cost is the batch's gram postings — the form a
    * 100 TB pipeline runs on every ingest cycle, with the gram index
    * loaded from its promoted artifact rather than recomputed. Same
    * flag rule and broadcast gate as [[decontaminate]]; the oracle is
    * the brute-force computation restricted to the new docs. */
  val decontaminateIncremental: Q = Q("text_decontaminate_incremental",
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |words AS (SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS i FROM tok),
      |g0 AS (SELECT doc_id, word,
      |         lead(word, 1) OVER win8 AS w1, lead(word, 2) OVER win8 AS w2,
      |         lead(word, 3) OVER win8 AS w3, lead(word, 4) OVER win8 AS w4,
      |         lead(word, 5) OVER win8 AS w5, lead(word, 6) OVER win8 AS w6,
      |         lead(word, 7) OVER win8 AS w7
      |       FROM words WINDOW win8 AS (PARTITION BY doc_id ORDER BY i)),
      |g AS (SELECT DISTINCT doc_id,
      |        word || ' ' || w1 || ' ' || w2 || ' ' || w3 || ' ' || w4
      |          || ' ' || w5 || ' ' || w6 || ' ' || w7 AS s
      |      FROM g0 WHERE w7 IS NOT NULL),
      |sp AS (SELECT MAX(doc_id) * 9 // 10 AS split_id FROM documents),
      |bench AS (SELECT DISTINCT s FROM g WHERE doc_id % 4 = 3),
      |train AS (SELECT g.doc_id, g.s FROM g CROSS JOIN sp
      |          WHERE doc_id % 4 <> 3 AND doc_id >= split_id),
      |agg AS (SELECT t.doc_id, COUNT(*) AS n_grams, COUNT(b.s) AS n_hit
      |        FROM train t LEFT JOIN bench b ON t.s = b.s GROUP BY 1)
      |SELECT doc_id, n_grams, n_hit,
      |  ROUND(CAST(n_hit AS DOUBLE) / n_grams, 6) AS overlap
      |FROM agg WHERE CAST(n_hit AS DOUBLE) / n_grams >= 0.5
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val bench = benchGramStore(s, dir).production(s, "bench_grams")
      .withColumn("hit", lit(1))
    val docs = Tables.documents(s, dir)
    val split = docs.agg(expr("max(doc_id) * 9 div 10")).head().getLong(0)
    val newDocs = docs.filter(col("doc_id") >= split && col("doc_id") % 4 =!= 3)
    // same gate evidence as contaminationAggCompute: the bench gram
    // set is ~postings/4 8-byte keys
    val (_, _, postings) = hashedShinglesStats(s, dir)
    hashedGrams8(Tables.fanOut(newDocs))
      .join(maybeBroadcast(bench, postings / 4 * 8), Seq("h"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_hit"))
      .filter(col("n_hit").cast("double") / col("n_grams") >= 0.5)
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        r6(col("n_hit").cast("double") / col("n_grams")).as("overlap"))
      .orderBy(col("doc_id"))
  }

  /** Bloom-prefiltered decontamination — IDENTICAL semantics (and
    * oracle) to [[decontaminate]], different physical plan: the
    * benchmark 8-gram set aggregates into a Spark
    * `BloomFilterAggregate` sketch (surfaced as `graft_bloom_agg` —
    * Spark keeps it internal for runtime join filters), a 1-row
    * ~1 MB broadcast that prefilters the corpus-side gram stream
    * map-side; only bloom-passed candidates reach the exact-confirm
    * join, so false positives cannot leak into the output.
    *
    * THE scale move for decontamination: at 100 TB the corpus-side
    * gram stream is the dominant cost, and the bloom probe turns the
    * corpus×bench shuffle join into a scan-side filter that discards
    * ~all non-contaminated grams before any exchange — the
    * exact-confirm join's left side shrinks from |corpus grams| to
    * |true hits| + ε·|corpus|. The no-false-negative guarantee (the
    * output is exact, not approximate) is what makes the sketch safe
    * to put in the correctness path. */
  val decontaminateBloom: Q = Q("text_decontaminate_bloom",
    decontaminate.oracle.get) { (s, dir) =>
    graft.functions.GraftFunctions.register(s)
    val grams = hashedGrams8(Tables.fanOut(Tables.documents(s, dir)))
    val bench = grams.filter(col("doc_id") % 4 === 3).select(col("h")).distinct()
    val train = grams.filter(col("doc_id") % 4 =!= 3)
    // the sketch collects to the driver and re-enters the plan as a
    // BINARY literal (the IVF-codebook pattern: KB-to-MB artifact,
    // never the data) — `might_contain` requires a constant or
    // scalar-subquery filter, not a joined column
    val bf = bench.agg(expr("graft_bloom_agg(h, 1048576L, 8388608L)").as("bf"))
      .head.getAs[Array[Byte]](0)
    val totals = train.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    val (_, _, postings) = hashedShinglesStats(s, dir)
    val hits = train
      .filter(call_function("graft_bloom_contains", lit(bf), col("h")))
      .join(maybeBroadcast(bench, postings / 4 * 8), Seq("h"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    totals.join(hits, Seq("doc_id"))
      .filter(col("n_hit").cast("double") / col("n_grams") >= 0.5)
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        r6(col("n_hit").cast("double") / col("n_grams")).as("overlap"))
      .orderBy(col("doc_id"))
  }

  /** Per-training-doc 8-gram benchmark-overlap counts, filtered to
    * the ≥ 0.5 contaminated set — shared by [[decontaminate]] and the
    * curation pipeline's `contaminated` drop reason. Memoized +
    * persisted per (application, sf dir) like the shingle cache: three
    * queries consume it (decontaminate, curation, pack), and the
    * flagged list is tiny, so a session pays the gram self-join once.
    * The gram frame itself is derived twice (benchmark set + training
    * side) inside that one computation — the session-local analog of
    * landing the gram postings as a table, which is what a 100 TB
    * pipeline would do instead. */
  private val contamCache = graft.SessionCaches.memo[DataFrame]

  private[queries] def contaminationAgg(s: SparkSession, dir: String): DataFrame =
    contamCache(s, dir) {
      val df = contaminationAggCompute(s, dir).persist()
      df.count()
      df
    }

  private def contaminationAggCompute(s: SparkSession, dir: String): DataFrame = {
    val grams = hashedGrams8(Tables.fanOut(Tables.documents(s, dir)))
    val bench = grams.filter(col("doc_id") % 4 === 3)
      .select(col("h")).distinct().withColumn("hit", lit(1))
    val train = grams.filter(col("doc_id") % 4 =!= 3)
    // size the broadcast gate off the memoized corpus posting count
    // (3-shingle postings ≈ token count ≈ 8-gram postings)
    val (_, _, postings) = hashedShinglesStats(s, dir)
    train.join(maybeBroadcast(bench, postings / 4 * 8), Seq("h"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_hit"))
      .filter(col("n_hit").cast("double") / col("n_grams") >= 0.5)
  }

  /** EVAL-SET CONSTRUCTOR — decontamination run from the EVAL side:
    * [[decontaminate]] protects training from benchmark leakage;
    * this builds the benchmark itself. Candidates are the md5 test
    * split (bucket ≥ 90, the [[Curation.splitAssign]] arithmetic —
    * content-stable, so the eval set never churns as the corpus
    * grows), and every candidate is screened against the distinct
    * 8-grams of everything the model trains on (bucket < 90): a
    * candidate sharing ≥ 20% of its grams with training text is
    * marked `kept = false` — evaluating on memorized data measures
    * recall, not capability. The emitted manifest carries the full
    * audit (gram totals, hit counts, rounded overlap, language for
    * coverage checks), not just the survivors, so the drop decisions
    * are themselves reviewable.
    *
    * Scale shape: [[decontaminate]]'s exactly — gram postings are
    * hashed 8-byte keys, the seen-set join rides [[maybeBroadcast]]
    * (degrading to shuffle at 100 TB), one pass, no all-pairs; docs
    * too short to carry an 8-gram can't be screened and keep with
    * overlap 0. */
  val evalBuild: Q = Q("text_eval_build",
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |words AS (SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS i FROM tok),
      |g0 AS (SELECT doc_id, word,
      |         lead(word, 1) OVER win8 AS w1, lead(word, 2) OVER win8 AS w2,
      |         lead(word, 3) OVER win8 AS w3, lead(word, 4) OVER win8 AS w4,
      |         lead(word, 5) OVER win8 AS w5, lead(word, 6) OVER win8 AS w6,
      |         lead(word, 7) OVER win8 AS w7
      |       FROM words WINDOW win8 AS (PARTITION BY doc_id ORDER BY i)),
      |g AS (SELECT DISTINCT doc_id,
      |        word || ' ' || w1 || ' ' || w2 || ' ' || w3 || ' ' || w4
      |          || ' ' || w5 || ' ' || w6 || ' ' || w7 AS s
      |      FROM g0 WHERE w7 IS NOT NULL),
      |bkt AS (SELECT doc_id,
      |          CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 100 AS bucket
      |        FROM documents),
      |seen AS (SELECT DISTINCT g.s FROM g JOIN bkt USING (doc_id) WHERE bucket < 90),
      |cand AS (SELECT d.doc_id, d.lang FROM documents d JOIN bkt USING (doc_id)
      |         WHERE bucket >= 90),
      |cg AS (SELECT g.doc_id, g.s FROM g JOIN bkt USING (doc_id) WHERE bucket >= 90),
      |agg AS (SELECT cg.doc_id, COUNT(*) AS n_grams, COUNT(seen.s) AS n_hit
      |        FROM cg LEFT JOIN seen ON cg.s = seen.s GROUP BY 1),
      |ov AS (SELECT c.doc_id, c.lang,
      |         COALESCE(a.n_grams, 0) AS n_grams, COALESCE(a.n_hit, 0) AS n_hit,
      |         CASE WHEN COALESCE(a.n_grams, 0) = 0 THEN 0.0
      |              ELSE ROUND(CAST(a.n_hit AS DOUBLE) / a.n_grams, 6) END AS overlap
      |       FROM cand c LEFT JOIN agg a USING (doc_id))
      |SELECT doc_id, lang, n_grams, n_hit, overlap, overlap < 0.2 AS kept
      |FROM ov ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val grams = hashedGrams8(Tables.fanOut(docs)).withColumn("bucket", splitBucket)
    val seen = grams.filter(col("bucket") < 90).select(col("h")).distinct()
    val (_, _, postings) = hashedShinglesStats(s, dir)
    evalManifestOf(
      docs.withColumn("bucket", splitBucket).filter(col("bucket") >= 90),
      grams.filter(col("bucket") >= 90).select(col("doc_id"), col("h")),
      maybeBroadcast(seen, postings * 9 / 10 * 8))
      .orderBy(col("doc_id"))
  }

  /** The md5 split bucket (`text_split_assign`'s arithmetic) as a
    * column — shared by the eval constructor's batch and stream
    * faces. */
  private[graft] def splitBucket: Column = expr(
    "cast(conv(substring(md5(cast(doc_id as string)), 1, 4), 16, 10) as int) % 100")

  /** The eval-manifest transform of [[evalBuild]] over any candidate
    * frame: per candidate, gram totals vs the `seen` train-gram set,
    * rounded overlap, and the keep decision — a per-doc content fact
    * (the seen set is the STATIC full train side), so the streaming
    * twin shares it verbatim per micro-batch. */
  private[graft] def evalManifestOf(cand: DataFrame, candGrams: DataFrame,
                                    seen: DataFrame): DataFrame = {
    val agg = candGrams
      .join(seen.withColumn("hit", lit(1)), Seq("h"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_hit"))
    cand.select(col("doc_id"), col("lang"))
      .join(agg, Seq("doc_id"), "left_outer")
      .na.fill(0L, Seq("n_grams", "n_hit"))
      .withColumn("overlap",
        when(col("n_grams") === 0, lit(0.0))
          .otherwise(r6(col("n_hit").cast("double") / col("n_grams"))))
      .select(col("doc_id"), col("lang"), col("n_grams"), col("n_hit"),
        col("overlap"), (col("overlap") < 0.2).as("kept"))
  }

  /** RETROACTIVE RELEASE CONTAMINATION AUDIT — the audit that runs
    * when a NEW benchmark drops AFTER the release shipped: curation
    * screened against the benchmark quarter it knew (`doc_id%4 = 3`,
    * [[decontaminate]]), so a benchmark published later (modeled as
    * the md5 val split, bucket ∈ [80,90) — an axis curation never
    * screened) can still overlap shipped text. Per source: how many
    * shipped 512-token windows CONTAIN a release doc sharing ≥ 1
    * word-8-gram with the new benchmark, out of how many shipped
    * windows total, and how many docs hit. Downstream, the affected
    * windows are what an eval-integrity note excludes (or the forget
    * device recuts). Grams are computed over the RAW text — a
    * conservative over-approximation of the post-scrub window
    * content, which is the standard audit posture (flag, then
    * inspect). A release doc that IS a new-benchmark doc is a hit by
    * definition — that's eval text shipped verbatim.
    *
    * Scale shape: gram postings are hashed 8-byte keys under the
    * [[maybeBroadcast]] gate; the doc→window span explode is bounded
    * by each doc's own window span; everything aggregates per
    * source. */
  val releaseContamAudit: Q = Q("text_release_contam_audit",
    curationOracleBody + emitTokenCtes + """
      |, atok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |awords AS (SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS i FROM atok),
      |ag0 AS (SELECT doc_id, word,
      |         lead(word, 1) OVER awin AS w1, lead(word, 2) OVER awin AS w2,
      |         lead(word, 3) OVER awin AS w3, lead(word, 4) OVER awin AS w4,
      |         lead(word, 5) OVER awin AS w5, lead(word, 6) OVER awin AS w6,
      |         lead(word, 7) OVER awin AS w7
      |       FROM awords WINDOW awin AS (PARTITION BY doc_id ORDER BY i)),
      |ag AS (SELECT DISTINCT doc_id,
      |        word || ' ' || w1 || ' ' || w2 || ' ' || w3 || ' ' || w4
      |          || ' ' || w5 || ' ' || w6 || ' ' || w7 AS s
      |      FROM ag0 WHERE w7 IS NOT NULL),
      |abkt AS (SELECT doc_id,
      |          CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 100 AS bucket
      |        FROM documents),
      |abench AS (SELECT DISTINCT ag.s FROM ag JOIN abkt USING (doc_id)
      |           WHERE bucket >= 80 AND bucket < 90),
      |rox AS (SELECT source, doc_id, start_off,
      |          len(string_split(red, ' ')) AS ft FROM ro),
      |ahits AS (SELECT DISTINCT ag.doc_id FROM ag
      |          JOIN (SELECT DISTINCT doc_id FROM rox) rr USING (doc_id)
      |          JOIN abench ON ag.s = abench.s),
      |aspans AS (SELECT rox.source,
      |             unnest(generate_series(CAST(start_off // 512 AS BIGINT),
      |               CAST((start_off + ft - 1) // 512 AS BIGINT))) AS w
      |           FROM rox JOIN ahits USING (doc_id) WHERE ft >= 1),
      |aaff AS (SELECT source, COUNT(DISTINCT w) AS n_windows_affected FROM aspans GROUP BY 1),
      |anh AS (SELECT source, COUNT(*) AS n_docs_hit FROM rox JOIN ahits USING (doc_id) GROUP BY 1),
      |atot AS (SELECT source, CAST((SUM(ft) + 511) // 512 AS BIGINT) AS n_windows_total
      |         FROM rox GROUP BY 1)
      |SELECT atot.source, atot.n_windows_total,
      |  COALESCE(aaff.n_windows_affected, 0) AS n_windows_affected,
      |  COALESCE(anh.n_docs_hit, 0) AS n_docs_hit
      |FROM atot LEFT JOIN aaff USING (source) LEFT JOIN anh USING (source)
      |ORDER BY source""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val ro = sourcePrefixSum(
      curationDecisions(s, dir).filter(col("drop_reason").isNull)
        .select(col("source"), col("doc_id"), col("final_tokens")),
      col("final_tokens"))
    val grams = hashedGrams8(Tables.fanOut(docs))
    val bench = grams.withColumn("bucket", splitBucket)
      .filter(col("bucket") >= 80 && col("bucket") < 90)
      .select(col("h")).distinct()
    val (_, _, postings) = hashedShinglesStats(s, dir)
    val hits = grams
      .join(ro.select(col("doc_id")).distinct(), Seq("doc_id"), "left_semi")
      .join(maybeBroadcast(bench, postings / 10 * 8), Seq("h"), "left_semi")
      .select(col("doc_id")).distinct()
    val spans = ro.join(hits, Seq("doc_id"))
      .filter(col("final_tokens") >= 1)
      .select(col("source"), explode(sequence(
        floor(col("start_off") / 512).cast("long"),
        floor((col("start_off") + col("final_tokens") - 1) / 512).cast("long"))).as("w"))
    val aff = spans.groupBy(col("source"))
      .agg(countDistinct(col("w")).as("n_windows_affected"))
    val nh = ro.join(hits, Seq("doc_id")).groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs_hit"))
    ro.groupBy(col("source"))
      .agg(expr("cast((sum(final_tokens) + 511) div 512 as bigint)").as("n_windows_total"))
      .join(aff, Seq("source"), "left_outer")
      .join(nh, Seq("source"), "left_outer")
      .na.fill(0L, Seq("n_windows_affected", "n_docs_hit"))
      .orderBy(col("source"))
  }

  /** Overlapping token-window CHUNKING — the context-window shaping
    * step every RAG / long-document training pipeline runs: split
    * each document into windows of 32 whitespace tokens advancing by
    * stride 24 (8-token overlap so no boundary context is lost).
    * Emits one row per chunk with its offset, realized length, and
    * materialized text; the final short window is kept (standard
    * practice — trailing tokens must land somewhere).
    *
    * Scale shape: per-row sequence + explode + array slice — a pure
    * map with no shuffle and bounded ~1.33× data growth; at 100 TB
    * chunking is scan-bound, exactly this plan. The window starts
    * come from `sequence(0, n-1, stride)` so a doc always yields at
    * least one chunk. */
  val chunkWindows: Q = Q("text_chunk_windows",
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |c AS (
      |  SELECT doc_id, len(w) AS n_tokens, w,
      |         unnest(generate_series(0, len(w) - 1, 24)) AS start_tok
      |  FROM t)
      |SELECT doc_id, CAST(start_tok // 24 AS INT) AS chunk_id, start_tok,
      |  LEAST(32, n_tokens - start_tok) AS chunk_tokens,
      |  array_to_string(list_slice(w, start_tok + 1, start_tok + 32), ' ') AS chunk_text
      |FROM c ORDER BY doc_id, chunk_id""".stripMargin) { (s, dir) =>
    chunkFrame(Tables.documents(s, dir)).orderBy(col("doc_id"), col("chunk_id"))
  }

  /** The chunking transform of [[chunkWindows]] over any documents
    * frame (batch or streaming — stateless, so the streaming twin
    * shares this code verbatim). */
  def chunkFrame(docs: DataFrame): DataFrame =
    tokenized(docs)
      .select(col("doc_id").cast("long").as("doc_id"),
        size(col("w")).as("n_tokens"), col("w"))
      .withColumn("start_tok", explode(sequence(lit(0), col("n_tokens") - 1, lit(24))))
      .select(col("doc_id"),
        (col("start_tok") / 24).cast("int").as("chunk_id"),
        col("start_tok").cast("long").as("start_tok"),
        least(lit(32), col("n_tokens") - col("start_tok")).cast("long").as("chunk_tokens"),
        array_join(slice(col("w"), col("start_tok") + 1, lit(32)), " ").as("chunk_text"))

  // ---------------------------------------------------------------- bpe train
  /** Merge-learning rounds for [[bpeTrain]] — each round is one
    * aggregate over the distinct-word state, so the oracle unrolls
    * exactly this many CTE blocks. */
  // final val: compile-time folded, so oracle strings interpolating it
  // ABOVE this definition in object-init order still read 16, not 0
  private[graft] final val BpeRounds = 16

  /** Learned BPE merge table over the corpus vocabulary — the
    * TRAINING half of byte-pair encoding ([[tokenBpe]] is the
    * pre-trained segmentation half): start from characters, and for
    * `rounds` rounds merge the adjacent symbol pair with the highest
    * corpus frequency (ties broken lexicographically), re-counting
    * after each merge — Sennrich et al. 2016's algorithm.
    *
    * Scale shape (how real BPE trainers run on clusters): the ONE
    * corpus-scale pass is the word-frequency aggregate, shared with
    * the lm-score family via the memoized vocab; every round then
    * works on the DISTINCT-WORD state weighted by frequency —
    * |vocab| rows, not |corpus| — as a groupBy over the exploded
    * adjacent pairs, with only the single argmax row collected per
    * round. Per-word state is a double-space-separated symbol
    * string, so applying a merge is one non-overlapping
    * left-to-right `replace(' l  r ', ' lr ')` — the 2-space
    * separators leave one space on each side of a consumed
    * occurrence, which keeps ADJACENT occurrences matchable in the
    * same scan (single-space separators would swallow the shared
    * boundary and diverge from greedy-leftmost fold semantics) and
    * lets DuckDB replay the identical rewrite. */
  val bpeTrain: Q = Q("text_bpe_train", bpeTrainOracle(BpeRounds)) { (s, dir) =>
    import s.implicits._
    bpeMerges(s, dir).toDF("round", "lhs", "rhs", "pair_count")
  }

  /** Learned merge sequence, memoized per (application, sf dir): the
    * training and encode queries share one 16-round learn. */
  private val mergeCache = graft.SessionCaches.memo[Seq[(Int, String, String, Long)]]

  private[graft] def bpeMerges(s: SparkSession, dir: String): Seq[(Int, String, String, Long)] =
    mergeCache(s, dir) {
      val (vocab, nVocab) = Curation.vocabStats(s, dir)
      learnBpeMergesSeq(s, vocab.select(col("tok").as("word"), col("c").as("freq")),
        BpeRounds, vocabRows = nVocab)
    }

  /** The iterative trainer: `vocab` is `(word, freq)`; returns the
    * merge table `(round, lhs, rhs, pair_count)`. */
  private[graft] def learnBpeMerges(s: SparkSession, vocab: DataFrame,
                                    rounds: Int): DataFrame = {
    import s.implicits._
    learnBpeMergesSeq(s, vocab, rounds).toDF("round", "lhs", "rhs", "pair_count")
  }

  /** State-frame bound for the iterative trainer: the highest-
    * frequency units kept in driver memory across the merge rounds
    * (≤ 64k words × avg word length — a few MB). */
  private[graft] final val BpeStateBound = 65536

  /** Iterative BPE merge learner over a BOUNDED state frame — the
    * [[graft.queries.Kmeans]] discipline (corpus-scaled aggregation
    * distributed, bounded model state on the driver) applied to the
    * 256-round release trainer:
    *
    *  - the unit vocabulary arrives ALREADY aggregated (the
    *    corpus-scaled word/bigram count is a distributed map-side-
    *    combine groupBy upstream); the trainer cuts the
    *    [[BpeStateBound]] highest-frequency units via a
    *    TakeOrderedAndProject (freq desc, word — deterministic at
    *    any partitioning, never a global sort) and iterates ALL
    *    rounds over that bounded frame in driver memory — 256
    *    in-memory rounds instead of 256 scheduled multi-job Spark
    *    stages over a tiny frame (the pre-r17 shape: ~30 s of pure
    *    scheduling at sf0.1);
    *  - EXACTNESS BOUND (the [[graft.functions.FreqItemsSketch]]
    *    Misra-Gries pattern): a pair occurring only in the excluded
    *    tail has true count ≤ E, the tail's total adjacent-pair
    *    mass (one distributed aggregate, skipped when the memoized
    *    vocab count proves nothing was cut). The trainer REQUIRES
    *    E strictly below the smallest selected merge count — if the
    *    floor could have outranked any selection, it THROWS rather
    *    than return a silently-approximate table (the bounded-
    *    operator contract). Order-exactness among kept pairs is
    *    pinned by the oracle-trained 16-round prefix
    *    (`text_bpe_release256`) and the round-prefix determinism
    *    spec (BpeScaleSpec B2);
    *  - tie-breaks replicate the engine/oracle order exactly:
    *    (count desc, lhs, rhs) with UNSIGNED UTF-8 byte comparison
    *    (Spark's binary string order), and the merge rewrite is the
    *    same left-to-right non-overlapping token scan the
    *    boundary-preserving string replace performed.
    *
    * `vocabRows` (when known from a memoized count) lets the trainer
    * skip the tail-mass aggregate when the whole vocab provably fits
    * under the bound. */
  private[graft] def learnBpeMergesSeq(s: SparkSession, vocab: DataFrame,
                                       rounds: Int,
                                       vocabRows: Long = -1L): Seq[(Int, String, String, Long)] = {
    val ranked = vocab.select(col("word").cast("string").as("word"),
      col("freq").cast("long").as("freq"))
    val kept: Array[(String, Long)] =
      ranked.orderBy(col("freq").desc, col("word")).limit(BpeStateBound)
        .collect().map(r => (r.getString(0), r.getLong(1)))
    val exclPairMass: Long =
      if ((vocabRows >= 0 && vocabRows <= BpeStateBound) || kept.length < BpeStateBound) 0L
      else {
        val total = ranked
          .agg(sum(col("freq") * (length(col("word")) - 1)).cast("long")).head.getLong(0)
        val keptMass = kept.iterator.map { case (w, f) =>
          f * math.max(0, w.codePointCount(0, w.length) - 1) }.sum
        total - keptMass
      }
    // unsigned UTF-8 byte order — Spark's (and DuckDB's) binary
    // string comparison, NOT Java's UTF-16 compareTo
    def u8lt(a: String, b: String): Boolean = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) {
        val d = (x(i) & 0xff) - (y(i) & 0xff)
        if (d != 0) return d < 0
        i += 1
      }
      x.length < y.length
    }
    var state: Array[(Array[String], Long)] = kept.map { case (w, f) =>
      (w.codePoints().toArray.map(cp => new String(Character.toChars(cp))), f)
    }
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      state.foreach { case (ts, f) =>
        var j = 0
        while (j < ts.length - 1) {
          val k = (ts(j), ts(j + 1))
          counts.update(k, counts.getOrElse(k, 0L) + f)
          j += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        var best: ((String, String), Long) = null
        counts.foreach { e =>
          if (best == null ||
              e._2 > best._2 ||
              (e._2 == best._2 && (u8lt(e._1._1, best._1._1) ||
                (e._1._1 == best._1._1 && u8lt(e._1._2, best._1._2)))))
            best = e
        }
        val ((l, rr), c) = best
        merges += ((r, l, rr, c))
        state = state.map { case (ts, f) =>
          if (ts.length < 2) (ts, f)
          else {
            val out = new scala.collection.mutable.ArrayBuffer[String](ts.length)
            var j = 0
            while (j < ts.length) {
              if (j < ts.length - 1 && ts(j) == l && ts(j + 1) == rr) {
                out += l + rr; j += 2
              } else { out += ts(j); j += 1 }
            }
            (out.toArray, f)
          }
        }
      }
      r += 1
    }
    val out = merges.result()
    if (out.nonEmpty && exclPairMass > 0) {
      val minSelected = out.iterator.map(_._4).min
      require(exclPairMass < minSelected,
        s"BPE state floor unsafe: excluded-tail pair mass $exclPairMass >= " +
          s"smallest selected merge count $minSelected — raise BpeStateBound " +
          s"(${BpeStateBound}) or train on the full vocabulary")
    }
    out
  }

  /** The oracle replays the identical `rounds` merge rounds as
    * unrolled CTE blocks: per round, pair counts via a lead window
    * over the split state, the deterministic argmax, and the same
    * boundary-preserving string rewrite. [[bpeOracleCtes]] is the
    * shared WITH-chain (through state `s<rounds>`), reused by the
    * encode oracle below. */
  private def bpeTrainOracle(rounds: Int): String =
    bpeOracleCtes(rounds) + s"""
      |SELECT round, l AS lhs, r AS rhs, c AS pair_count
      |FROM (${(1 to rounds).map(r => s"SELECT * FROM m$r").mkString(" UNION ALL ")})
      |ORDER BY round""".stripMargin

  private def bpeOracleCtes(rounds: Int): String =
    "WITH " + bpeOracleBody(rounds)

  /** The bpe-train CTE chain WITHOUT the `WITH` prefix, so it can be
    * spliced into another oracle's WITH list (the tokenized-ID
    * emission splices it after the curation chain). */
  private[graft] def bpeOracleBody(rounds: Int): String =
    """v AS MATERIALIZED (SELECT word, COUNT(*) AS freq
      |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) GROUP BY 1),
      |s0 AS MATERIALIZED (SELECT word, freq, '  ' || regexp_replace(word, '(.)', '\1  ', 'g') AS st FROM v)""".stripMargin +
      bpeOracleRounds(rounds)

  /** The per-round train CTEs alone (assumes `v(word, freq)` and `s0`
    * are defined) — shared by the corpus-word seed above and the
    * bigram-unit release certificate's seed. */
  private[graft] def bpeOracleRounds(rounds: Int): String = {
    val sb = new StringBuilder
    // state and merge CTEs are each referenced twice per round; without
    // MATERIALIZED the inliner expands the chain exponentially (2^rounds
    // scans of documents — observed as an fd-exhaustion failure)
    for (r <- 1 to rounds) {
      val p = r - 1
      sb.append(s""",
        |t$r AS (SELECT word, freq, unnest(string_split(trim(st), '  ')) AS t,
        |               generate_subscripts(string_split(trim(st), '  '), 1) AS i FROM s$p),
        |pr$r AS (SELECT freq, t AS l, lead(t) OVER (PARTITION BY word ORDER BY i) AS r FROM t$r),
        |c$r AS (SELECT l, r, CAST(SUM(freq) AS BIGINT) AS c FROM pr$r WHERE r IS NOT NULL GROUP BY 1, 2),
        |m$r AS MATERIALIZED (SELECT $r AS round, l, r, c FROM c$r ORDER BY c DESC, l, r LIMIT 1),
        |s$r AS MATERIALIZED (SELECT word, freq,
        |          replace(st, ' ' || m.l || '  ' || m.r || ' ', ' ' || m.l || m.r || ' ') AS st
        |        FROM s$p, m$r m)""".stripMargin)
    }
    sb.toString
  }

  // ---------------------------------------------------------------- bpe encode
  /** Apply the learned merge table: segment every document with the
    * trained tokenizer and report per-doc BPE token counts — the
    * SERVING half of [[bpeTrain]] (what a token-budget planner and
    * the pack stage consume).
    *
    * Scale shape: the merge table is collected once (16 rows,
    * memoized with training via [[bpeMerges]]) and folded into the
    * plan as LITERAL replace arguments — encoding the DISTINCT
    * vocabulary is a pure codegen map over |vocab| rows with no
    * per-row merge-table lookup; documents then join the encoded
    * vocab by word under the [[maybeBroadcast]] size gate (the
    * vocab outgrows broadcast at web scale → shuffle hash join) and
    * one partial-agg groupBy rolls up per-doc counts. The corpus is
    * never char-exploded: per-word work happens once per DISTINCT
    * word, the frequency-weighted join fans it out. */
  /** The trained tokenizer applied to an arbitrary word column: the
    * collected merge table folds into LITERAL boundary-preserving
    * replaces over the double-space char expansion, then the symbol
    * array — one codegen expression, applicable to ANY word (not
    * just training-vocab members: OOV words simply stop at whatever
    * merges match). Shared by [[bpeEncode]] and the tokenized-ID
    * emission. */
  private[graft] def bpeSegments(s: SparkSession, dir: String, word: Column): Column =
    bpeSegmentsWith(bpeMerges(s, dir), word)

  /** The literal-folded encode over ANY merge table — the fold is one
    * chained-replace column expression whose depth equals the merge
    * count, so it scales to production vocab sizes as a compile-time
    * program, not a per-row table lookup (demonstrated at 256 merges
    * in BpeScaleSpec; the 16-merge release fold keeps the DuckDB
    * oracle anchor). */
  private[graft] def bpeSegmentsWith(merges: Seq[(Int, String, String, Long)],
                                     word: Column): Column = {
    val st0 = concat(lit("  "), regexp_replace(word, "(.)", "$1  "))
    val stN = merges.foldLeft(st0) { case (c, (_, l, r, _)) =>
      call_function("replace", c, lit(s" $l  $r "), lit(s" $l$r "))
    }
    split(trim(stN), "  ")
  }

  /** The ONE definition of the |vocab|-bounded encoded table —
    * `(word, n_sym)`: each vocabulary word's BPE symbol count under
    * the trained merges — shared (Scala AND oracle CTE) by
    * [[bpeEncode]] and [[bpeFertility]] so the encoding can never
    * silently diverge between the two reports. */
  private def bpeEncOracleCte: String =
    s"enc AS (SELECT word, len(string_split(trim(st), '  ')) AS n_sym FROM s$BpeRounds)"

  private def bpeEncodedVocab(s: SparkSession, dir: String): (DataFrame, Long) = {
    val (vocab, nVocab) = Curation.vocabStats(s, dir)
    (vocab.select(col("tok").as("word"),
      size(bpeSegments(s, dir, col("tok"))).cast("long").as("n_sym")), nVocab)
  }

  val bpeEncode: Q = Q("text_bpe_encode",
    bpeOracleCtes(BpeRounds) + s""",
      |$bpeEncOracleCte,
      |words AS (SELECT doc_id, n_chars, unnest(string_split(text, ' ')) AS word FROM documents)
      |SELECT w.doc_id, COUNT(*) AS n_tokens,
      |  CAST(SUM(e.n_sym) AS BIGINT) AS n_bpe_tokens,
      |  ROUND(CAST(MAX(w.n_chars) AS DOUBLE) / SUM(e.n_sym), 6) AS chars_per_bpe
      |FROM words w JOIN enc e ON w.word = e.word
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val (enc, nVocab) = bpeEncodedVocab(s, dir)
    tokenized(Tables.documents(s, dir))
      .select(col("doc_id"), col("n_chars"), explode(col("w")).as("word"))
      .join(maybeBroadcast(enc, nVocab * 64L), "word")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(col("n_sym")).cast("long").as("n_bpe_tokens"),
        r6(max(col("n_chars")).cast("double") / sum(col("n_sym"))).as("chars_per_bpe"))
      .orderBy(col("doc_id"))
  }

  /** Tokenizer FERTILITY by source — the per-domain health metric a
    * pipeline publishes beside its trained tokenizer (chars per BPE
    * token and tokens per word vary by domain; a domain whose
    * fertility degrades is under-represented in the training vocab).
    * One frequency-weighted join of the corpus words against the
    * |vocab|-bounded encoded table (the [[bpeEncode]] shape), then a
    * low-cardinality source rollup; ratios are exact-integer sums
    * divided once at the report boundary. */
  val bpeFertility: Q = Q("text_bpe_fertility",
    bpeOracleCtes(BpeRounds) + s""",
      |$bpeEncOracleCte,
      |dwords AS (SELECT source, unnest(string_split(text, ' ')) AS word FROM documents)
      |SELECT source, COUNT(*) AS n_words,
      |  CAST(SUM(e.n_sym) AS BIGINT) AS n_bpe_tokens,
      |  ROUND(SUM(len(w.word)) / CAST(SUM(e.n_sym) AS DOUBLE), 6) AS chars_per_token,
      |  ROUND(SUM(e.n_sym) / CAST(COUNT(*) AS DOUBLE), 6) AS tokens_per_word
      |FROM dwords w JOIN enc e ON w.word = e.word
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val (enc, nVocab) = bpeEncodedVocab(s, dir)
    tokenized(Tables.documents(s, dir))
      .select(col("source"), explode(col("w")).as("word"))
      .join(maybeBroadcast(enc, nVocab * 64L), "word")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_sym")).cast("long").as("n_bpe_tokens"),
        r6(sum(length(col("word"))) / sum(col("n_sym")).cast("double")).as("chars_per_token"),
        r6(sum(col("n_sym")) / count(lit(1)).cast("double")).as("tokens_per_word"))
      .orderBy(col("source"))
  }

  // ------------------------------------------------------------ bpe at scale
  /** Production-scale merge count for the bigram-unit release table. */
  final val ReleaseRounds = 256

  /** Corpus word-BIGRAM vocabulary `(word, freq)` with joiner `_` —
    * the SentencePiece-style unit that lets the trainer sustain
    * [[ReleaseRounds]] merges past the 31-word corpus vocabulary
    * ceiling. One per-doc lead window (bounded by doc length,
    * skew-free) + one vocab rollup; memoized + persisted. */
  private val bigramVocabCache = graft.SessionCaches.memo[(DataFrame, Long)]

  private[graft] def bigramVocabStats(s: SparkSession, dir: String): (DataFrame, Long) =
    bigramVocabCache(s, dir) {
      import org.apache.spark.sql.expressions.Window
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("i", "t")))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
      val df = toks.withColumn("t2", lead(col("t"), 1).over(w))
        .filter(col("t2").isNotNull)
        .select(concat(col("t"), lit("_"), col("t2")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).cast("long").as("freq"))
        .persist()
      (df, df.count())
    }

  /** The [[ReleaseRounds]]-merge bigram-unit release table, memoized
    * — the SAME parameterized trainer the 16-merge oracle anchor
    * runs ([[learnBpeMergesSeq]]), at production depth. */
  private val bigMergesCache = graft.SessionCaches.memo[Seq[(Int, String, String, Long)]]

  private[graft] def bigramMerges(s: SparkSession, dir: String): Seq[(Int, String, String, Long)] =
    bigMergesCache(s, dir) {
      val (bv, n) = bigramVocabStats(s, dir)
      learnBpeMergesSeq(s, bv, ReleaseRounds, vocabRows = n)
    }

  /** THE 256-MERGE RELEASE TABLE, ORACLE-GATED — closing the
    * 16-merge-anchor question: the corpus word vocabulary (31 words)
    * genuinely cannot sustain more word-unit merges, so the release
    * tokenizer trains at word-BIGRAM granularity where 256 merges are
    * real, and this certificate bridges it to the DuckDB oracle the
    * only way an unrolled 256-CTE oracle never could:
    *
    *  - the oracle INDEPENDENTLY TRAINS rounds 1..16 on the same
    *    bigram units and the row carries the full 16-merge prefix as
    *    a string — hash equality pins the 256-run's prefix to an
    *    independent engine's train (BpeScaleSpec B2's round-prefix
    *    determinism spans the remaining 240 rounds);
    *  - the oracle recomputes the exact corpus facts: unit count,
    *    char mass, and the 16-merge token mass (its round-16 train
    *    state IS the segmentation);
    *  - the Spark-only scale facts ride as pinned booleans: lossless
    *    reassembly over the whole unit vocabulary at 256 merges,
    *    strict compression past the anchor (m256 < m16), and the
    *    |alphabet| + rounds symbol-table bound with dense sorted-rank
    *    ids (the emission family's broadcast-gate argument at
    *    production depth).
    *
    * The word-unit 16-merge table stays the emission family's anchor
    * (its oracles replay train → segmentation → windows end-to-end
    * exactly); this row is the certified scale path beside it. */
  val bpeRelease256: Q = Q("text_bpe_release256",
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t,
      |              generate_subscripts(string_split(text, ' '), 1) AS i FROM documents),
      |big0 AS (SELECT t, lead(t) OVER (PARTITION BY doc_id ORDER BY i) AS t2 FROM toks),
      |v AS MATERIALIZED (SELECT t || '_' || t2 AS word, COUNT(*) AS freq
      |     FROM big0 WHERE t2 IS NOT NULL GROUP BY 1),
      |s0 AS MATERIALIZED (SELECT word, freq, '  ' || regexp_replace(word, '(.)', '\\1  ', 'g') AS st FROM v)"""
      .stripMargin + bpeOracleRounds(16) + s""",
      |ms AS (SELECT string_agg(l || ' ' || r || ' ' || CAST(c AS VARCHAR), '|' ORDER BY round) AS p
      |       FROM (${(1 to 16).map(r => s"SELECT * FROM m$r").mkString(" UNION ALL ")}))
      |SELECT
      |  (SELECT COUNT(*) FROM v) AS n_units,
      |  (SELECT CAST(SUM(freq * length(word)) AS BIGINT) FROM v) AS char_mass,
      |  (SELECT CAST(SUM(freq * len(string_split(trim(st), '  '))) AS BIGINT) FROM s16)
      |    AS mass16,
      |  CAST($ReleaseRounds AS INT) AS n_merges,
      |  (SELECT p FROM ms) AS merges_prefix16,
      |  TRUE AS lossless_256,
      |  TRUE AS compresses_past_16,
      |  TRUE AS symtab_bounded_dense""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val (bv, _) = bigramVocabStats(s, dir)
    val m = bigramMerges(s, dir)
    val m16 = m.take(16)
    val prefixStr = m16.map { case (_, l, r, c) => s"$l $r $c" }.mkString("|")
    val seg = bv.select(col("word"), col("freq"),
      bpeSegmentsWith(m, col("word")).as("syms"))
    val massAgg = seg.agg(
      sum(col("freq") * size(col("syms"))).cast("long").as("m256"),
      count(when(concat_ws("", col("syms")) =!= col("word"), 1)).as("n_lossy"))
    val symtab = seg.select(explode(col("syms")).as("sym")).distinct()
      .withColumn("id", (row_number().over(Window.orderBy(col("sym"))) - 1).cast("long"))
    val symAgg = symtab.agg(count(lit(1)).as("n_syms"),
      min(col("id")).as("id_min"), max(col("id")).as("id_max"))
    val alphaAgg = bv.select(explode(split(col("word"), "")).as("ch")).distinct()
      .agg(count(lit(1)).as("n_alpha"))
    bv.agg(count(lit(1)).as("n_units"),
        sum(col("freq") * length(col("word"))).cast("long").as("char_mass"))
      .crossJoin(broadcast(bv.select(
          (col("freq") * size(bpeSegmentsWith(m16, col("word")))).as("mm"))
        .agg(sum(col("mm")).cast("long").as("mass16"))))
      .crossJoin(broadcast(massAgg))
      .crossJoin(broadcast(symAgg))
      .crossJoin(broadcast(alphaAgg))
      .select(col("n_units"), col("char_mass"), col("mass16"),
        lit(ReleaseRounds).cast("int").as("n_merges"),
        lit(prefixStr).as("merges_prefix16"),
        (col("n_lossy") === 0).as("lossless_256"),
        (col("m256") < col("mass16")).as("compresses_past_16"),
        (col("n_syms") <= col("n_alpha") + ReleaseRounds
          && col("id_min") === 0 && col("id_max") === col("n_syms") - 1)
          .as("symtab_bounded_dense"))
  }

  // ---------------------------------------------------------------- line dedup
  /** Segment length (tokens) and cross-doc threshold for
    * [[dedupLines]]: a "line" is a 4-token aligned window (the corpus
    * has no newlines — the structural analog of a physical line), and
    * a line present in ≥ 3 DISTINCT documents is boilerplate. */
  private[graft] final val LineLen = 4
  private[graft] final val LineMinDocs = 3

  /** Per-doc aligned pseudo-line segments `(doc_id, seg_id, line,
    * n_tok)` — a pure column program (tokenize + transform + slice),
    * no shuffle until the caller aggregates. */
  private[graft] def lineSegments(docs: DataFrame): DataFrame =
    tokenized(docs)
      .select(col("doc_id"), col("w"),
        posexplode(expr(
          s"""transform(sequence(0, cast(ceil(size(w) / $LineLen.0) as int) - 1),
             |          k -> array_join(slice(w, k * $LineLen + 1, $LineLen), ' '))""".stripMargin)
        ).as(Seq("seg_id", "line")))
      .select(col("doc_id"), col("seg_id").cast("long").as("seg_id"), col("line"),
        size(split(col("line"), " ")).cast("long").as("n_tok"))

  /** Boilerplate line set + its size, memoized per (application, sf
    * dir): the broadcast-gate evidence and the join both reuse it, so
    * the cross-doc count aggregate is paid once per session, and no
    * persisted frame leaks across Bench reps. */
  private val boilerCache = graft.SessionCaches.memo[(DataFrame, Long)]

  private def boilerLines(s: SparkSession, dir: String): (DataFrame, Long) =
    boilerCache(s, dir) {
      val df = lineSegments(Tables.fanOut(Tables.documents(s, dir)))
        .groupBy(xxhash64(col("line")).as("fp"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= LineMinDocs)
        .select(col("fp")).withColumn("is_boiler", lit(true))
        .persist()
      (df, df.count())
    }

  /** Line/paragraph-level deduplication — the CCNet/RefinedWeb
    * boilerplate filter: a line repeated across ≥ [[LineMinDocs]]
    * distinct documents (headers, footers, nav chrome) is removed
    * from EVERY document, and the doc itself survives with the
    * repeated lines cut out. Output is the per-doc removal report
    * with the md5 of the retained text, so the oracle verifies the
    * actual reassembled content, not just counts.
    *
    * Scale shape: segmentation is a shuffle-free map; the cross-doc
    * count is ONE aggregate keyed by the line fingerprint (never
    * all-pairs — candidates are bounded by total segments, exactly
    * like a postings build); the mark-join keys on an 8-byte
    * xxhash64 rather than arbitrary-length line text (the fp is only
    * an equality key — the oracle's md5 formulation classifies lines
    * identically, collisions unobservable as in
    * [[hashedShingleArrays]]), and broadcasts only under the size
    * gate (a web corpus's boilerplate set grows with the crawl, so
    * past the bound the join degrades to a shuffle on the same
    * fixed-width key); reassembly is one groupBy(doc_id) whose
    * collect is doc-bounded. */
  val dedupLines: Q = Q("text_dedup_lines",
    s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |words AS (SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) - 1 AS i FROM tok),
      |seg AS (SELECT doc_id, i // $LineLen AS seg_id,
      |               string_agg(word, ' ' ORDER BY i) AS line, COUNT(*) AS n_tok
      |        FROM words GROUP BY 1, 2),
      |cnt AS (SELECT md5(line) AS fp, COUNT(DISTINCT doc_id) AS nd FROM seg GROUP BY 1),
      |m AS (SELECT s.*, (c.nd >= $LineMinDocs) AS boiler
      |      FROM seg s JOIN cnt c ON md5(s.line) = c.fp)
      |SELECT doc_id, COUNT(*) AS n_lines,
      |  COUNT(*) FILTER (WHERE boiler) AS n_boiler,
      |  CAST(COALESCE(SUM(n_tok) FILTER (WHERE NOT boiler), 0) AS BIGINT) AS n_tokens_kept,
      |  md5(COALESCE(string_agg(line, ' ' ORDER BY seg_id) FILTER (WHERE NOT boiler), ''))
      |    AS kept_fp
      |FROM m GROUP BY 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val (boiler, nBoiler) = boilerLines(s, dir)
    lineDedupReport(Tables.documents(s, dir), boiler, nBoiler)
  }

  /** The [[dedupLines]] report for any documents frame against a
    * boilerplate fingerprint set (exposed for the planted-line
    * spec). */
  private[graft] def lineDedupReport(docs: DataFrame, boiler: DataFrame,
                                     nBoiler: Long): DataFrame =
    lineReport(lineSegments(docs)
      .withColumn("fp", xxhash64(col("line")))
      // ~24 B/row: 8-byte fp + boolean + row overhead
      .join(maybeBroadcast(boiler, nBoiler * 24), Seq("fp"), "left_outer")
      .withColumn("is_boiler", coalesce(col("is_boiler"), lit(false))))

  /** Per-doc removal report over marked segments `(doc_id, seg_id,
    * line, n_tok, is_boiler)` — shared by the global-count, prefix,
    * and streaming line-dedup variants. */
  private[graft] def lineReport(marked: DataFrame): DataFrame =
    marked.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("is_boiler"), 1L).otherwise(0L)).as("n_boiler"),
        coalesce(sum(when(!col("is_boiler"), col("n_tok"))), lit(0L))
          .as("n_tokens_kept"),
        md5(array_join(transform(
          array_sort(collect_list(
            when(!col("is_boiler"), struct(col("seg_id"), col("line"))))),
          x => x.getField("line")), " ")).as("kept_fp"))
      .orderBy(col("doc_id"))

  /** PREFIX-semantics line dedup — the filter as a streaming ingest
    * actually applies it: a line in doc d is boilerplate iff ≥
    * [[LineMinDocs]] distinct documents with doc_id ≤ d (ingest
    * order) carry it — decisions are made AT ARRIVAL and never
    * retracted, unlike [[dedupLines]]'s whole-corpus rule, which
    * needs future knowledge (the 3rd carrier flips the first two
    * retroactively). Prefix decisions depend only on ingest order,
    * not on batch boundaries, so the streaming twin
    * ([[graft.streaming.StreamingLineDedup]]) shares this oracle
    * verbatim.
    *
    * Scale shape: distinct (fp, doc) pairs + ONE window over fp
    * (postings-bounded rank, the same partitioning the count
    * aggregate would use), mark-join back on (fp, doc_id), one
    * per-doc reduction. */
  val dedupLinesPrefix: Q = Q("text_dedup_lines_prefix",
    s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |words AS (SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) - 1 AS i FROM tok),
      |seg AS (SELECT doc_id, i // $LineLen AS seg_id,
      |               string_agg(word, ' ' ORDER BY i) AS line, COUNT(*) AS n_tok
      |        FROM words GROUP BY 1, 2),
      |f AS (SELECT DISTINCT md5(line) AS fp, doc_id FROM seg),
      |rk AS (SELECT fp, doc_id, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS k FROM f),
      |m AS (SELECT s.doc_id, s.seg_id, s.line, s.n_tok, (r.k >= $LineMinDocs) AS boiler
      |      FROM seg s JOIN rk r ON md5(s.line) = r.fp AND s.doc_id = r.doc_id)
      |SELECT doc_id, COUNT(*) AS n_lines,
      |  COUNT(*) FILTER (WHERE boiler) AS n_boiler,
      |  CAST(COALESCE(SUM(n_tok) FILTER (WHERE NOT boiler), 0) AS BIGINT) AS n_tokens_kept,
      |  md5(COALESCE(string_agg(line, ' ' ORDER BY seg_id) FILTER (WHERE NOT boiler), ''))
      |    AS kept_fp
      |FROM m GROUP BY 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
    prefixLineReport(Tables.documents(s, dir))
  }

  /** The [[dedupLinesPrefix]] transform over any documents frame. */
  private[graft] def prefixLineReport(docs: DataFrame): DataFrame = {
    val segs = lineSegments(docs).withColumn("fp", xxhash64(col("line")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp")).orderBy(col("doc_id"))
    val rk = segs.select(col("fp"), col("doc_id")).distinct()
      .withColumn("k", row_number().over(w))
    lineReport(segs.join(rk, Seq("fp", "doc_id"))
      .withColumn("is_boiler", col("k") >= LineMinDocs))
  }

  // ---------------------------------------------------------------- span dedup
  /** Sliding-window width (tokens) for [[dedupSpans]]: any [[SpanW]]
    * consecutive tokens shared verbatim between two documents mark
    * every position they cover for removal. */
  private[graft] final val SpanW = 5

  /** Per-doc sliding shingle starts `(doc_id, i, fp)` — one
    * fingerprint at EVERY token offset (unlike [[lineSegments]]'
    * aligned grid), so cross-doc repeats are caught regardless of
    * alignment. The fingerprint is the positional
    * [[graft.functions.HashedNgramsPos]] kernel — one primitive
    * loop per row in WholeStageCodegen, 8-byte keys downstream, no
    * window STRINGS ever built (the md5-of-joined-tokens first cut
    * paid |tokens|·width string assembly; the fp is only an
    * equality key, so the oracle's md5 formulation classifies
    * windows identically — collisions at |windows|²/2⁶⁵,
    * unobservable, same argument as [[hashedShingleArrays]]).
    * Pure column program; no shuffle until aggregated. */
  private[graft] def spanStarts(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    tokenized(docs)
      .filter(size(col("w")) >= SpanW)
      .select(col("doc_id"),
        posexplode(expr(s"graft_hashed_ngrams_pos(w, $SpanW)")).as(Seq("i", "fp")))
  }

  /** Cross-doc duplicated shingle set + size, memoized per
    * (application, sf dir) like [[boilerLines]]. */
  private val spanDupCache = graft.SessionCaches.memo[(DataFrame, Long)]

  private[graft] def dupSpanFps(s: SparkSession, dir: String): (DataFrame, Long) =
    spanDupCache(s, dir) {
      val df = spanStarts(Tables.fanOut(Tables.documents(s, dir)))
        .groupBy(col("fp"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2)
        .select(col("fp")).withColumn("dup", lit(true))
        .persist()
      (df, df.count())
    }

  /** Maximal-span exact substring deduplication — the ExactSubstr
    * filter of Lee et al., "Deduplicating Training Data Makes
    * Language Models Better" (ACL 2022): any [[SpanW]]-token window
    * appearing verbatim in ≥ 2 distinct documents marks every token
    * position it covers, and overlapping/adjacent marked windows
    * merge into maximal removed spans. Unlike [[dedupLines]]'
    * aligned fixed segments this catches repeats at ANY offset, and
    * removal is position-granular. Output: per-doc token count,
    * removed-position count, MAXIMAL span count (gaps-and-islands
    * over covered positions), and the md5 of the reassembled
    * retained text.
    *
    * Scale shape: shingling is a shuffle-free map (one md5 per token
    * position — the suffix-array build of the paper replaced by a
    * fingerprint aggregate, the standard distributed reformulation);
    * the duplicate test is ONE aggregate keyed by fingerprint
    * (postings-bounded, never all-pairs); the mark-join keys on the
    * fixed-width fp under the size gate (a web corpus's duplicated-
    * window set grows with the crawl → degrades to a shuffle hash
    * join); coverage expansion is a bounded ×[[SpanW]] explode of
    * only the DUPLICATED starts; span merging + reassembly ride one
    * per-doc window + reduction. */
  val dedupSpans: Q = Q("text_dedup_spans",
    s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |toks AS (SELECT doc_id, unnest(w) AS tok, generate_subscripts(w, 1) - 1 AS pos FROM tok),
      |sh AS (SELECT doc_id, t.i, md5(array_to_string(list_slice(w, t.i + 1, t.i + $SpanW), ' ')) AS fp
      |       FROM tok, UNNEST(generate_series(0, len(w) - $SpanW)) AS t(i)
      |       WHERE len(w) >= $SpanW),
      |dup AS (SELECT fp FROM sh GROUP BY fp HAVING COUNT(DISTINCT doc_id) >= 2),
      |cov AS (SELECT DISTINCT s.doc_id, t.pos
      |        FROM sh s JOIN dup USING (fp),
      |             UNNEST(generate_series(s.i, s.i + ${SpanW - 1})) AS t(pos)),
      |m AS (SELECT t.doc_id, t.pos, t.tok, (c.pos IS NOT NULL) AS rm
      |      FROM toks t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos),
      |m2 AS (SELECT m.*, rm AND NOT COALESCE(LAG(rm) OVER (PARTITION BY doc_id ORDER BY pos), FALSE) AS ss
      |       FROM m)
      |SELECT doc_id, COUNT(*) AS n_tokens,
      |  CAST(COUNT(*) FILTER (WHERE rm) AS BIGINT) AS n_removed,
      |  CAST(COUNT(*) FILTER (WHERE ss) AS BIGINT) AS n_spans,
      |  md5(COALESCE(string_agg(tok, ' ' ORDER BY pos) FILTER (WHERE NOT rm), '')) AS kept_fp
      |FROM m2 GROUP BY 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val (dups, nDups) = dupSpanFps(s, dir)
    spanDedupReport(Tables.documents(s, dir), dups, nDups)
  }

  /** The [[dedupSpans]] report for any documents frame against a
    * duplicated-fingerprint set (exposed for the planted spec). */
  private[graft] def spanDedupReport(docs: DataFrame, dups: DataFrame,
                                     nDups: Long): DataFrame =
    spanReport(docs, spanStarts(docs)
      // ~24 B/row: 8-byte fp + boolean + row overhead
      .join(maybeBroadcast(dups, nDups * 24), Seq("fp")))

  /** Per-doc span-removal report given the marked duplicated starts
    * `(doc_id, i, ...)` — the shared tail of the whole-corpus,
    * prefix, and streaming span dedup variants. The duplicated
    * starts (bounded by the corpus's duplicated windows, not its
    * tokens) aggregate per doc, join the docs frame on doc_id, and
    * the native [[graft.functions.SpanScrub]] kernel merges
    * intervals, counts maximal spans, and reassembles the retained
    * text in one row-local pass — the token stream itself never
    * shuffles (the first cut paid three token-stream shuffles:
    * covered-position distinct, the (doc, pos) mark-join, and the
    * lag-window + collect_list reduction). */
  private[graft] def spanReport(docs: DataFrame, marked: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val perDoc = marked.groupBy(col("doc_id")).agg(collect_list(col("i")).as("ss"))
    tokenized(docs)
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"),
        expr(s"graft_span_scrub(w, coalesce(ss, cast(array() as array<int>)), $SpanW)").as("sc"))
      .select(col("doc_id"), col("n_tokens"),
        col("sc.n_removed").as("n_removed"), col("sc.n_spans").as("n_spans"),
        md5(col("sc.kept")).as("kept_fp"))
      .orderBy(col("doc_id"))
  }

  /** PREFIX-semantics span dedup — the ExactSubstr filter as a
    * streaming ingest applies it: a window in doc d is duplicated
    * iff ≥ 2 distinct documents with doc_id ≤ d carry it, so the
    * SECOND and later carriers lose the span while the first
    * carrier keeps it — decided at arrival, never retracted
    * (the [[dedupLinesPrefix]] discipline at threshold 2). The
    * streaming twin ([[graft.streaming.StreamingSpanDedup]]) shares
    * this oracle verbatim. */
  val dedupSpansPrefix: Q = Q("text_dedup_spans_prefix",
    s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |toks AS (SELECT doc_id, unnest(w) AS tok, generate_subscripts(w, 1) - 1 AS pos FROM tok),
      |sh AS (SELECT doc_id, t.i, md5(array_to_string(list_slice(w, t.i + 1, t.i + $SpanW), ' ')) AS fp
      |       FROM tok, UNNEST(generate_series(0, len(w) - $SpanW)) AS t(i)
      |       WHERE len(w) >= $SpanW),
      |f AS (SELECT DISTINCT fp, doc_id FROM sh),
      |rk AS (SELECT fp, doc_id, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS k FROM f),
      |cov AS (SELECT DISTINCT s.doc_id, t.pos
      |        FROM sh s JOIN rk r ON s.fp = r.fp AND s.doc_id = r.doc_id AND r.k >= 2,
      |             UNNEST(generate_series(s.i, s.i + ${SpanW - 1})) AS t(pos)),
      |m AS (SELECT t.doc_id, t.pos, t.tok, (c.pos IS NOT NULL) AS rm
      |      FROM toks t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos),
      |m2 AS (SELECT m.*, rm AND NOT COALESCE(LAG(rm) OVER (PARTITION BY doc_id ORDER BY pos), FALSE) AS ss
      |       FROM m)
      |SELECT doc_id, COUNT(*) AS n_tokens,
      |  CAST(COUNT(*) FILTER (WHERE rm) AS BIGINT) AS n_removed,
      |  CAST(COUNT(*) FILTER (WHERE ss) AS BIGINT) AS n_spans,
      |  md5(COALESCE(string_agg(tok, ' ' ORDER BY pos) FILTER (WHERE NOT rm), '')) AS kept_fp
      |FROM m2 GROUP BY 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
    prefixSpanReport(Tables.documents(s, dir))
  }

  /** The [[dedupSpansPrefix]] transform over any documents frame:
    * distinct (fp, doc) pairs + ONE window over fp for the prefix
    * rank, duplicated starts expand to covered positions, shared
    * report tail. */
  private[graft] def prefixSpanReport(docs: DataFrame): DataFrame = {
    val starts = spanStarts(docs)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp")).orderBy(col("doc_id"))
    val rk = starts.select(col("fp"), col("doc_id")).distinct()
      .withColumn("k", row_number().over(w))
    spanReport(docs,
      starts.join(rk.filter(col("k") >= 2).select(col("fp"), col("doc_id")),
        Seq("fp", "doc_id")))
  }

  // ---------------------------------------------------------------- fuzzy match
  /** Fuzzy vocabulary matching — spell-variant detection by edit
    * distance, the data-cleaning join naive plans run as |vocab|²
    * Levenshtein evaluations. Candidates come from the SymSpell
    * deletion-neighborhood (Garbe): every word keys on itself plus
    * its 1-deletion variants, two words within edit distance 1
    * necessarily share a key (substitution → same-position
    * deletions collide; insert/delete → the shorter word IS a key
    * of the longer), so candidate generation is an EQUI-JOIN on
    * |vocab|·(len+1) keys and the exact `levenshtein` recheck runs
    * only on collisions. The corpus vocabulary is typo-free by
    * construction, so the signal is PLANTED (the PII/ANN-cert
    * device): each ≥4-char word gets a deterministic md5-positioned
    * single-deletion variant, and the oracle replays planting,
    * neighborhood, and recheck — detected pairs hash-compare
    * exactly. */
  val fuzzyPairs: Q = Q("text_fuzzy_pairs",
    """WITH real AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS w FROM documents),
      |pl0 AS (SELECT w,
      |          CAST(CAST(('0x' || substr(md5('typo:' || w), 1, 8)) AS BIGINT) % length(w) AS INTEGER) AS p
      |        FROM real WHERE length(w) >= 4),
      |planted AS (SELECT substr(w, 1, p) || substr(w, p + 2, length(w)) AS w FROM pl0
      |            EXCEPT SELECT w FROM real),
      |words AS (SELECT w FROM real UNION SELECT w FROM planted),
      |keys AS (SELECT w, unnest(list_distinct(list_append(
      |           [substr(w, 1, i - 1) || substr(w, i + 1, length(w)) FOR i IN generate_series(1, length(w))],
      |           w))) AS k
      |         FROM words),
      |cand AS (SELECT DISTINCT x.w AS w1, y.w AS w2
      |         FROM keys x JOIN keys y ON x.k = y.k AND x.w < y.w)
      |SELECT w1, w2, CAST(levenshtein(w1, w2) AS INTEGER) AS dist
      |FROM cand WHERE levenshtein(w1, w2) <= 1
      |ORDER BY w1, w2""".stripMargin) { (s, dir) =>
    val real = Curation.vocabStats(s, dir)._1.select(col("tok").as("w"))
    val planted = real.filter(length(col("w")) >= 4)
      .withColumn("p",
        (conv(substring(md5(concat(lit("typo:"), col("w"))), 1, 8), 16, 10)
          .cast("long") % length(col("w"))).cast("int"))
      .select(expr("concat(substring(w, 1, p), substring(w, p + 2, length(w)))").as("w"))
      .except(real)
    val words = real.union(planted).distinct()
    val keys = words.select(col("w"), explode(expr(
      """array_distinct(concat(
        |  transform(sequence(1, length(w)),
        |            i -> concat(substring(w, 1, i - 1), substring(w, i + 1, length(w)))),
        |  array(w)))""".stripMargin)).as("k"))
    keys.as("x").join(keys.as("y"), Seq("k"))
      .filter(col("x.w") < col("y.w"))
      .select(col("x.w").as("w1"), col("y.w").as("w2")).distinct()
      .filter(levenshtein(col("w1"), col("w2")) <= 1)
      .select(col("w1"), col("w2"), levenshtein(col("w1"), col("w2")).as("dist"))
      .orderBy(col("w1"), col("w2"))
  }

  val all: Seq[Q] = Seq(chunkWindows, fuzzyPairs, tokenStats, quality, langId, fingerprint, dedupExact,
    dedupNear, dedupContainment, dedupIncremental, fingerprint64, wordCount,
    dedupKeep, dedupLines, dedupLinesPrefix, dedupSpans, dedupSpansPrefix, tokenBpe, bpeTrain, bpeEncode, bpeFertility, bpeRelease256, packSequences, packOffsets, shuffleOrder, dupRateSketch, topTokensSketch,
    sampleStratified, splitLeakage, corpusReport, topNgrams, lengthBuckets, lengthQuantiles,
    bigramLm, vocabBySource,
    tfidfTopK, curation, dataCard, qualityHist, curationPack, packEfficiency, packWholeDocsQ, packWholeReport, packPolicy, curationEmit, curationEmitIds, curationEmitBounds, emitIdFreq, curationShuffle, curationResume, curationEpochs,
    emitForget, decontaminate, decontaminateIncremental, decontaminateBloom, evalBuild,
    releaseContamAudit)
}
