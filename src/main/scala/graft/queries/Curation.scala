package graft.queries

import graft.Q
import graft.SessionCaches.cutLineage
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-curation operators a training-data pipeline runs after
  * cleaning and dedup: deterministic split assignment, temperature-
  * weighted source mixing, and unigram-LM quality scoring (the CCNet
  * / The-Pile-style "score with a cheap LM, filter the tail" step).
  *
  * All three are pure column programs over the `documents` table —
  * no UDFs, no state, every decision derived from `md5` so the same
  * doc lands in the same split/sample on any cluster at any scale
  * (re-runs and backfills stay consistent, the property a random()
  * split destroys). Each is fully oracle-checked: DuckDB replays the
  * identical hash arithmetic from the same parquet.
  */
object Curation {

  /** First `hexChars` of md5(prefix ++ doc_id) as an integer column —
    * the deterministic uniform hash behind splits and sampling.
    * Matches DuckDB `CAST('0x' || substr(md5(...), 1, n) AS INT)`. */
  private def hashInt(prefix: String, hexChars: Int): Column =
    conv(substring(md5(concat(lit(prefix), col("doc_id").cast("string"))), 1, hexChars),
      16, 10).cast("int")

  // ---------------------------------------------------------------- split
  /** Deterministic 80/10/10 train/val/test assignment: bucket =
    * md5(doc_id) mod 100. Content-stable: adding or removing OTHER
    * docs never reassigns a doc (contrast `randomSplit`, which
    * reshuffles on every corpus change and leaks val into train
    * across refreshes). Embarrassingly parallel — one projection,
    * no shuffle beyond the output sort. */
  val splitAssign: Q = Q("text_split_assign",
    """SELECT doc_id,
      |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 100 AS bucket,
      |  CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 100 < 80 THEN 'train'
      |       WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 100 < 90 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), (hashInt("", 4) % 100).as("bucket"))
      .withColumn("split",
        when(col("bucket") < 80, "train").when(col("bucket") < 90, "val").otherwise("test"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------- mix
  /** Temperature-weighted source mixing (α = 0.5): sample the corpus
    * down to half size with per-source keep rates ∝ n_s^α / n_s, the
    * multinomial temperature-sampling scheme of multilingual-corpus
    * training (upweights small sources, downweights dominant ones).
    * The keep decision is a per-doc hash-fraction threshold — fully
    * parallel, reproducible, and incremental (new docs get sampled at
    * the same rate without touching old ones). Rates are derived from
    * one tiny per-source count aggregate (broadcast back); rounded to
    * 1e-6 BEFORE the comparison so both engines threshold the exact
    * same constant. */
  val sourceMix: Q = Q("text_source_mix",
    """WITH u AS (
      |  SELECT doc_id, source,
      |    CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 6)) AS INTEGER) / 16777216.0 AS u
      |  FROM documents),
      |cnt AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
      |tot AS (SELECT SUM(n) AS total, SUM(sqrt(CAST(n AS DOUBLE))) AS z FROM cnt),
      |rate AS (SELECT source, n AS n_docs,
      |          ROUND(LEAST(1.0, (total / 2.0) * (sqrt(CAST(n AS DOUBLE)) / z) / n), 6) AS keep_rate
      |         FROM cnt, tot)
      |SELECT r.source, r.n_docs, r.keep_rate,
      |       COUNT(*) FILTER (WHERE u.u < r.keep_rate) AS n_kept
      |FROM u JOIN rate r ON u.source = r.source
      |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin) { (s, dir) =>
    mixReport(Tables.documents(s, dir), alpha = 0.5, targetFrac = 0.5)
  }

  /** Per-source keep rates + realized kept counts for temperature
    * `alpha`, target size `targetFrac`·|corpus|. Exposed for the
    * skewed-source spec. */
  def mixReport(docs: org.apache.spark.sql.DataFrame,
                alpha: Double, targetFrac: Double): org.apache.spark.sql.DataFrame = {
    val u = docs.select(col("source"),
      (hashInt("mix:", 6).cast("double") / 16777216.0).as("u"))
    val cnt = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val tot = cnt.agg(sum(col("n")).as("total"),
      sum(pow(col("n").cast("double"), alpha)).as("z"))
    val rate = cnt.crossJoin(broadcast(tot))
      .select(col("source"), col("n").as("n_docs"),
        round(least(lit(1.0),
          (col("total") * targetFrac) * (pow(col("n").cast("double"), alpha) / col("z"))
            / col("n")), 6).as("keep_rate"))
    u.join(broadcast(rate), "source")
      .groupBy(col("source"), col("n_docs"), col("keep_rate"))
      .agg(count(when(col("u") < col("keep_rate"), 1)).as("n_kept"))
      .orderBy(col("source"))
  }

  /** Corpus unigram vocabulary `(tok, c)` + its row count, memoized +
    * persisted per (application, sf dir) like the TextOps caches: the
    * count is the broadcast-gate evidence for [[lmScore]]'s vocab
    * join, and memoizing means repeated runs (Bench reps) neither
    * recompute the aggregate nor leak persisted frames. */
  private val vocabCache = graft.SessionCaches.memo[(DataFrame, Long)]

  private[graft] def vocabStats(s: SparkSession, dir: String): (DataFrame, Long) =
    vocabCache(s, dir) {
      val df = TextOps.tokenCounts(s, dir)
        .groupBy(col("tok")).agg(sum(col("tf")).as("c")).persist()
      (df, df.count())
    }

  // ---------------------------------------------------------------- lm score
  /** Unigram-LM quality score: mean log-probability of each doc's
    * tokens under the corpus unigram distribution — the cheap
    * LM-perplexity filter of CCNet/RedPajama-style curation (docs of
    * improbable tokens score low). Rides the session-shared
    * [[TextOps.tokenCounts]] frame, so the tokenize+count shuffle is
    * paid once for the whole text family. The vocab join is
    * broadcast ONLY under [[TextOps.maybeBroadcast]]'s size gate: a
    * web-scale corpus has an effectively unbounded distinct-token
    * tail, so the vocab frame grows with the corpus and must degrade
    * to a shuffle join at 100 TB (the vocab frame + its count are
    * memoized per session, so the gate evidence is paid once).
    * Per-doc mean = Σ tf·ln(c/total) / Σ tf — identical to averaging
    * over the exploded word stream, without re-exploding. */
  val lmScore: Q = Q("text_lm_score",
    """WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      |vocab AS (SELECT word, COUNT(*) AS c FROM words GROUP BY 1),
      |tot AS (SELECT SUM(c) AS total FROM vocab)
      |SELECT w.doc_id, COUNT(*) AS n_tokens,
      |       ROUND(AVG(ln(CAST(v.c AS DOUBLE) / total)), 6) AS avg_logp
      |FROM words w JOIN vocab v ON w.word = v.word, tot
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    lmScores(s, dir).orderBy(col("doc_id"))
  }

  /** The per-doc unigram-LM score frame `(doc_id, n_tokens,
    * avg_logp)` behind [[lmScore]] — shared with the curriculum
    * schedule, which ranks on the same ROUNDED score both engines
    * agree on bit-for-bit.
    *
    * Memoized + PERSISTED per (application, sf dir): the two-level
    * rank device downstream ([[difficultyQuartiles]] +
    * [[TextOps.shuffleRankCore]]) fans its input into ~6 DAG
    * branches (purity/anchor/offset aggregates, the rank window, the
    * final count), and an unpersisted score frame re-pays the vocab
    * join once per branch — measured at sf0.1 as the bulk of the
    * 21 s plain-schedule build (r19 verdict's `cache_warm_curriculum`
    * item). One row per doc, so the persist is corpus-proportional
    * but per-doc-small — the same footprint class as
    * [[TextOps.tokenCounts]], spilling to disk at 100 TB. */
  private val lmMemo = graft.SessionCaches.memo[DataFrame]

  private[graft] def lmScores(s: SparkSession, dir: String): DataFrame =
    lmMemo(s, dir)(
      // cut: downstream plans (curriculum rank, pack joins) embed this
      // tree several times over (the r20 pack probe: counting a 2-row
      // cached frame derived from it read 2.4 s)
      cutLineage(lmScoresCompute(s, dir)))

  private[graft] def lmScoresCompute(s: SparkSession, dir: String): DataFrame = {
    val tc = TextOps.tokenCounts(s, dir)
    val (vocab, nVocab) = vocabStats(s, dir)
    val tot = vocab.agg(sum(col("c")).as("total"))
    // ~48 B/row estimate: avg token string + 8-byte count + row overhead
    tc.join(TextOps.maybeBroadcast(vocab, nVocab * 48), "tok")
      .crossJoin(broadcast(tot))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        round(sum(col("tf") * log(col("c").cast("double") / col("total")))
          / sum(col("tf")), 6).as("avg_logp"))
  }

  // ---------------------------------------------------------------- repetition
  /** Intra-doc repetition score — the Gopher/RefinedWeb "duplicate
    * n-gram fraction" quality rule: 1 − |distinct 3-shingles| /
    * |3-shingles|. Highly repetitive docs (boilerplate, keyword spam,
    * generation loops) approach 1. The distinct side rides the
    * session-shared hashed-shingle cache every dedup query already
    * pays for; the total side is `|tokens| − 2`, a projection — so
    * the marginal cost of this scorer is one broadcast-sized join.
    * Docs under 3 tokens have no 3-shingles and are omitted. */
  val repetitionScore: Q = Q("text_repetition_score",
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |s AS (SELECT doc_id, len(w) - 2 AS n_shingles FROM tok WHERE len(w) >= 3),
      |words AS (SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS i FROM tok),
      |sh0 AS (SELECT doc_id,
      |         word || ' ' || lead(word, 1) OVER win || ' ' || lead(word, 2) OVER win AS sg,
      |         lead(word, 2) OVER win AS w2
      |        FROM words WINDOW win AS (PARTITION BY doc_id ORDER BY i)),
      |d AS (SELECT doc_id, COUNT(DISTINCT sg) AS n_distinct FROM sh0 WHERE w2 IS NOT NULL GROUP BY 1)
      |SELECT doc_id, n_shingles, n_distinct,
      |       ROUND(1 - CAST(n_distinct AS DOUBLE) / n_shingles, 6) AS dup_ratio
      |FROM s JOIN d USING (doc_id) ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val (hs, _, _) = TextOps.hashedShinglesStats(s, dir)
    repetitionReport(Tables.documents(s, dir),
      hs.select(col("doc_id"), col("n").as("n_distinct")))
  }

  /** `(doc_id, n_shingles, n_distinct, dup_ratio)` from a documents
    * frame and its distinct-shingle counts (see [[repetitionScore]];
    * exposed for the planted-doc spec). */
  def repetitionReport(docs: org.apache.spark.sql.DataFrame,
                       distinctCounts: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"),
        (size(split(col("text"), " ")) - 2).cast("long").as("n_shingles"))
      .filter(col("n_shingles") >= 1)
      .join(distinctCounts, "doc_id")
      .select(col("doc_id"), col("n_shingles"), col("n_distinct"),
        round(lit(1) - col("n_distinct").cast("double") / col("n_shingles"), 6).as("dup_ratio"))
      .orderBy(col("doc_id"))

  // ---------------------------------------------------------------- epochs
  /** Epoch-weighted REPLICATION mix — the other half of data mixing:
    * [[sourceMix]] only DOWNsamples (keep_rate ≤ 1), but real LLM mix
    * configs specify per-source epoch counts that can exceed 1
    * ("2 epochs of wiki, 0.5 epochs of CC"). A doc with weight w is
    * emitted floor(w) times plus one more with probability frac(w),
    * so every source's expected emitted mass is exactly w·n_s. The
    * fractional coin is the md5 hash-fraction — deterministic, so the
    * exact emitted multiset (doc_id, rep) is oracle-checked, and
    * re-runs emit the identical corpus (a random coin would produce a
    * different training set per backfill).
    *
    * Weights here are a configured per-source map, keyed off the
    * source's numeric suffix mod 4 → {0.5, 1.0, 1.5, 2.0}: exercises
    * pure downsample, identity, fractional upsample, and exact 2×.
    *
    * Scale shape: per-row arithmetic + an explode that grows the data
    * by at most ⌈max w⌉ — no shuffle, no state, no skew (replicas of
    * one doc stay in its partition and downstream repartitions spread
    * them). At 100 TB this is the same one-pass map it is here. */
  val epochMix: Q = Q("text_mix_epochs",
    """WITH w AS (
      |  SELECT doc_id, source,
      |    CAST(0.5 + 0.5 * (COALESCE(TRY_CAST(regexp_extract(source, '([0-9]+)', 1) AS INT), 0) % 4) AS DOUBLE)
      |      AS weight,
      |    CAST(('0x' || substr(md5('epoch:' || CAST(doc_id AS VARCHAR)), 1, 6)) AS INTEGER)
      |      / 16777216.0 AS u
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, source, weight,
      |    CAST(FLOOR(weight) + CASE WHEN u < weight - FLOOR(weight) THEN 1 ELSE 0 END AS INT)
      |      AS reps
      |  FROM w)
      |SELECT doc_id, source, ROUND(weight, 6) AS weight,
      |       unnest(generate_series(0, reps - 1)) AS rep
      |FROM r ORDER BY doc_id, rep""".stripMargin) { (s, dir) =>
    mixFrame(Tables.documents(s, dir))
      .select(col("doc_id"), col("source"), round(col("weight"), 6).as("weight"),
        col("rep").cast("long").as("rep"))
      .orderBy(col("doc_id"), col("rep"))
  }

  /** The replication transform of [[epochMix]] over any documents
    * frame: one emitted row per (doc, rep) with the doc's other
    * columns carried through — the frame downstream consumers
    * (packing, shuffling into shards) compose on. */
  def mixFrame(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // a digitless source name extracts '', which the int cast rejects
    // under ANSI (and DuckDB rejects as a Conversion Error) — nullif
    // + coalesce pin both engines to suffix 0 (weight 0.5) so a
    // testdata naming change degrades to a checkable default instead
    // of a crash on one side and silent row loss on the other
    val weight = lit(0.5) + lit(0.5) *
      (coalesce(nullif(regexp_extract(col("source"), "(\\d+)", 1), lit("")).cast("int"),
        lit(0)) % 4)
    val u = hashInt("epoch:", 6).cast("double") / 16777216.0
    docs
      .withColumn("weight", weight)
      .withColumn("u", u)
      .withColumn("reps",
        (floor(col("weight")) +
          when(col("u") < col("weight") - floor(col("weight")), 1).otherwise(0)).cast("int"))
      // sequence(0, -1) would infer step -1 and emit [0, -1]; guard the
      // reps=0 (dropped doc) case with an empty array instead
      .withColumn("rep", explode(
        when(col("reps") > 0, sequence(lit(0), col("reps") - 1))
          .otherwise(array().cast("array<int>"))))
  }

  /** Epoch mix COMPOSED with sequence packing — the final corpus-
    * assembly step a training run executes: replicate/downsample per
    * the mix weights ([[mixFrame]]), then pack the emitted multiset
    * into 512-token sequences per source in (doc_id, rep) order (the
    * same running-sum offset scheme as `text_pack_sequences`, so two
    * replicas of one doc land at different offsets, usually in
    * different sequences). Output is the per-sequence manifest:
    * entries, distinct docs, token mass, offset span.
    *
    * Scale shape: the mix is the shuffle-free map above; packing
    * rides the (source, graft_sub) two-level prefix sum
    * ([[TextOps.sourcePrefixSum]]): the replica stream exchanges on
    * the sub-sharded key for the local window, the bounded
    * (source, sub) totals frame re-aggregates and joins back
    * broadcast — a BOUNDED number of exchanges (≤ 8), none of them a
    * per-source serialization, pinned by PlanInvariantsSpec's
    * no-bare-source-window + exchange-bound invariants. */
  val mixPack: Q = Q("text_mix_pack",
    """WITH w AS (
      |  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens,
      |    CAST(0.5 + 0.5 * (COALESCE(TRY_CAST(regexp_extract(source, '([0-9]+)', 1) AS INT), 0) % 4) AS DOUBLE)
      |      AS weight,
      |    CAST(('0x' || substr(md5('epoch:' || CAST(doc_id AS VARCHAR)), 1, 6)) AS INTEGER)
      |      / 16777216.0 AS u
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, source, n_tokens,
      |    CAST(FLOOR(weight) + CASE WHEN u < weight - FLOOR(weight) THEN 1 ELSE 0 END AS INT)
      |      AS reps
      |  FROM w),
      |m AS (
      |  SELECT doc_id, source, n_tokens,
      |         unnest(generate_series(0, reps - 1)) AS rep
      |  FROM r),
      |o AS (
      |  SELECT source, doc_id, rep, n_tokens,
      |    COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id, rep
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
      |  FROM m)
      |SELECT source, CAST(start_off // 512 AS BIGINT) AS seq_id,
      |  COUNT(*) AS n_entries, COUNT(DISTINCT doc_id) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
      |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM o GROUP BY 1, 2 ORDER BY source, seq_id""".stripMargin) { (s, dir) =>
    mixPackManifest(Tables.documents(s, dir)).orderBy(col("source"), col("seq_id"))
  }

  /** The mix∘pack manifest transform of [[mixPack]] over any
    * documents frame — also the artifact body the forget-propagation
    * certificate rebuilds per affected source shard. */
  private[graft] def mixPackManifest(docs: DataFrame): DataFrame = {
    TextOps.sourcePrefixSum(
      mixFrame(docs
          .select(col("doc_id"), col("source"),
            size(split(col("text"), " ")).cast("long").as("n_tokens")))
        .select(col("source"), col("doc_id"), col("rep").cast("long").as("rep"),
          col("n_tokens")),
      col("n_tokens"), order = Seq(col("doc_id"), col("rep")))
      .groupBy(col("source"), floor(col("start_off") / 512).as("seq_id"))
      .agg(count(lit(1)).as("n_entries"), countDistinct(col("doc_id")).as("n_docs"),
        sum(col("n_tokens")).as("seq_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
  }

  // --------------------------------------------------------------- pack forget
  /** The mix∘pack manifest as a DuckDB subquery over a filtered
    * documents set — shared by the before/after halves of the
    * forget-propagation oracle. */
  private def mixPackSql(where: String): String =
    s"""(WITH w AS (
       |  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens,
       |    CAST(0.5 + 0.5 * (COALESCE(TRY_CAST(regexp_extract(source, '([0-9]+)', 1) AS INT), 0) % 4) AS DOUBLE)
       |      AS weight,
       |    CAST(('0x' || substr(md5('epoch:' || CAST(doc_id AS VARCHAR)), 1, 6)) AS INTEGER)
       |      / 16777216.0 AS u
       |  FROM documents WHERE $where),
       |r AS (
       |  SELECT doc_id, source, n_tokens,
       |    CAST(FLOOR(weight) + CASE WHEN u < weight - FLOOR(weight) THEN 1 ELSE 0 END AS INT)
       |      AS reps
       |  FROM w),
       |m AS (
       |  SELECT doc_id, source, n_tokens,
       |         unnest(generate_series(0, reps - 1)) AS rep
       |  FROM r),
       |o AS (
       |  SELECT source, doc_id, rep, n_tokens,
       |    COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id, rep
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
       |  FROM m)
       |SELECT source, CAST(start_off // 512 AS BIGINT) AS seq_id
       |FROM o GROUP BY 1, 2)""".stripMargin

  /** One forget-lifecycle pack world per (application, sf dir). The
    * memo value owns its store — declared via the [[graft.Reapable]]
    * contract so eviction reaps the on-disk tree; `before`/`rebuilt`
    * are lineage-cut certificate artifacts (the full and reduced
    * manifests are content-determined — recomputing them per bench
    * rep re-paid the whole mix∘pack lineage twice per run, the same
    * per-rep re-analysis cost the emission forget worlds shed). */
  private final case class PackForgetWorld(store: graft.sources.FrameStore,
      before: DataFrame, rebuilt: DataFrame) extends graft.Reapable {
    def reapRoots: Seq[String] = Seq(store.root)
  }

  private val packForgetMemo = graft.SessionCaches.memo[PackForgetWorld]

  private def forgottenPackWorld(s: SparkSession, dir: String): PackForgetWorld =
    packForgetMemo(s, dir) {
      val store = new graft.sources.FrameStore(
        graft.sources.Scratch.dir("graft-forget-pack-").toString)
      // full and reduced manifests materialized ONCE each (lineage
      // cut) and shared between the store lifecycle and the cert —
      // the cert's substantive content is untouched-shard
      // preservation + gc durability against the store's own parquet
      val before = cutLineage(mixPackManifest(Tables.documents(s, dir)))
      store.publish(s, "mix_pack", before)
      // the forget, PROPAGATED: deleting the doc's own manifest rows
      // is not enough — removal shifts the running offsets of every
      // later doc in its source shard, so the whole affected shard's
      // sequences change. The rewrite keeps untouched sources' rows
      // AS-IS (at 100 TB forgetting one doc recomputes one shard, not
      // the corpus — the partition-pruned shape of CowMerge) and
      // recomputes affected shards from the reduced corpus (per-source
      // prefix sums make the manifest shard-local, so restricting the
      // reduced manifest to affected sources ≡ rebuilding just those
      // shards); gc makes the withdrawal durable on disk.
      val affected = Tables.documents(s, dir)
        .filter(col("doc_id") % 20 === 7).select(col("source")).distinct()
      val rebuilt = cutLineage(mixPackManifest(
        Tables.documents(s, dir).filter(col("doc_id") % 20 =!= 7)))
      store.rewrite(s, "mix_pack") { df =>
        df.join(broadcast(affected), Seq("source"), "left_anti")
          .unionByName(rebuilt.join(broadcast(affected), Seq("source")))
      }
      store.gc("mix_pack", keep = 0)
      PackForgetWorld(store, before = before, rebuilt = rebuilt)
    }

  /** Bench warm hook: build the forget world once, attributed. */
  private[graft] def warmPackForget(s: SparkSession, dir: String): Unit = {
    forgottenPackWorld(s, dir); ()
  }

  /** Forget-propagation certificate for DERIVED artifacts — the
    * right-to-be-forgotten half the postings/ANN certificates
    * (`text_dedup_forget`, `sim_ann_forget`) don't cover: a packed
    * training manifest BUILT FROM a forgotten doc must be
    * invalidated, not just have the doc's rows dropped, because
    * packing offsets shift. After the source-pruned rewrite + gc the
    * promoted manifest must be ROW-IDENTICAL to a manifest rebuilt
    * from scratch on the reduced corpus — a forgotten doc is
    * indistinguishable from one never packed. Counts are
    * oracle-recomputed; the equality boolean is TRUE in the oracle. */
  val packForget: Q = Q("text_pack_forget",
    s"""SELECT
       |  (SELECT COUNT(*) FROM ${mixPackSql("1 = 1")} t) AS n_sequences_before,
       |  (SELECT COUNT(*) FROM ${mixPackSql("doc_id % 20 <> 7")} t) AS n_sequences_after,
       |  (SELECT COUNT(*) FROM documents WHERE doc_id % 20 = 7) AS n_docs_forgotten,
       |  (SELECT COUNT(DISTINCT source) FROM documents WHERE doc_id % 20 = 7)
       |    AS n_sources_affected,
       |  TRUE AS forget_equals_rebuild""".stripMargin) { (s, dir) =>
    val world = forgottenPackWorld(s, dir)
    val before = world.before
    val after = world.store.production(s, "mix_pack")
    // rebuilt from scratch on the reduced corpus — the gold standard
    val rebuilt = world.rebuilt
    val cols = Seq("n_entries", "n_docs", "seq_tokens", "first_doc", "last_doc")
    val diff = after.as("a").join(rebuilt.as("r"), Seq("source", "seq_id"), "full_outer")
      .filter(!cols.map(c => col(s"a.$c") <=> col(s"r.$c")).reduce(_ && _))
      .agg(count(lit(1)).as("n_diff"))
    before.agg(count(lit(1)).as("n_sequences_before"))
      .crossJoin(broadcast(after.agg(count(lit(1)).as("n_sequences_after"))))
      .crossJoin(broadcast(Tables.documents(s, dir).filter(col("doc_id") % 20 === 7)
        .agg(count(lit(1)).as("n_docs_forgotten"),
          countDistinct(col("source")).as("n_sources_affected"))))
      .crossJoin(broadcast(diff))
      .select(col("n_sequences_before"), col("n_sequences_after"),
        col("n_docs_forgotten"), col("n_sources_affected"),
        (col("n_diff") === 0).as("forget_equals_rebuild"))
  }

  // ---------------------------------------------------------------- curriculum
  /** CURRICULUM + ANNEAL SCHEDULE — the training-order policy beyond
    * a flat shuffle: rank every doc by the unigram-LM quality score
    * ([[lmScores]]' ROUNDED `avg_logp`, the value both engines agree
    * on bit-for-bit), cut the ranking into difficulty quartiles
    * (quartile 0 = most-probable text = easiest/cleanest), train the
    * main pass easy→hard (phase = quartile, deterministic md5
    * shuffle WITHIN each phase), then ANNEAL: a final phase-4 replay
    * of the quartile-0 docs under a fresh salt — the
    * "finish on your highest-quality data, reshuffled" endgame
    * schedule of modern LLM runs, made bit-reproducible.
    *
    * Scale shape: the global difficulty rank NEVER sorts the corpus
    * in one window — the coarse bucket is `floor(score)`, whose
    * alphabet is bounded by the score RANGE (a mean log-probability
    * can't drop below ln(1/total_tokens) ≈ −28 even at 10^12 tokens,
    * so O(log corpus) buckets, each a contiguous score slice);
    * within-bucket ranks ride a hash-partitioned window and bucket
    * offsets are a bounded prefix sum joined back broadcast. The
    * final step numbering reuses [[TextOps.shuffleRankCore]] at
    * shard width 2 (phase digit + first md5 hex = 80 balanced
    * shards). The quartile cut `((rank−1)·4) div n` is exact integer
    * arithmetic against a 1-row count. */
  val curriculumOrder: Q = Q("text_curriculum_order",
    """WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      |vocab AS (SELECT word, COUNT(*) AS c FROM words GROUP BY 1),
      |tot AS (SELECT SUM(c) AS total FROM vocab),
      |sc AS (SELECT w.doc_id, ROUND(AVG(ln(CAST(v.c AS DOUBLE) / total)), 6) AS avg_logp
      |       FROM words w JOIN vocab v ON w.word = v.word, tot GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n_docs FROM sc),
      |r AS (SELECT doc_id, avg_logp,
      |        ROW_NUMBER() OVER (ORDER BY avg_logp DESC, doc_id) AS rnk FROM sc),
      |q AS (SELECT doc_id, avg_logp,
      |        CAST(((rnk - 1) * 4) // n_docs AS BIGINT) AS quartile FROM r, n),
      |u AS (SELECT doc_id, avg_logp, quartile, quartile AS phase,
      |        CAST(quartile AS VARCHAR) || md5('cur:' || CAST(doc_id AS VARCHAR)) AS sort_key
      |      FROM q
      |      UNION ALL
      |      SELECT doc_id, avg_logp, quartile, 4 AS phase,
      |        '4' || md5('anneal:' || CAST(doc_id AS VARCHAR)) AS sort_key
      |      FROM q WHERE quartile = 0)
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY sort_key, doc_id) AS BIGINT) AS ord,
      |  CAST(('0x' || substr(sort_key, 1, 2)) AS BIGINT) AS shard,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY substr(sort_key, 1, 2)
      |         ORDER BY sort_key, doc_id) AS BIGINT) AS pos,
      |  sort_key, CAST(phase AS BIGINT) AS phase, doc_id, quartile, avg_logp
      |FROM u ORDER BY ord""".stripMargin) { (s, dir) =>
    // re-assert the presentation order off the cache (tiny frame)
    curriculumSchedule(s, dir).orderBy(col("ord"))
  }

  /** The curriculum schedule frame behind [[curriculumOrder]] —
    * shared with the resume manifest, so memoized + persisted per
    * (application, sf dir) like the other session caches (the
    * lmScore join + rank machinery is paid once; Bench attributes
    * the one-time build as `cache_warm_curriculum`). */
  private val curriculumMemo = graft.SessionCaches.memo[DataFrame]

  private[graft] def curriculumSchedule(s: SparkSession, dir: String): DataFrame =
    curriculumMemo(s, dir) {
      // cut: the two-level-rank + tie-cut + shuffleRank tree is
      // embedded 4+ times by consumers like the pack join.
      // The rank device's plan invariants stay pinned on the
      // PRE-checkpoint plan (PlanInvariantsSpec explains
      // curriculumScheduleCompute without executing it).
      val (df0, ranked) = curriculumScheduleCompute(s, dir)
      val df = cutLineage(df0)
      ranked.unpersist()
      df
    }

  /** Pre-checkpoint schedule plan + the build-internal persisted rank
    * frame (returned so the memo build can unpersist it after the
    * lineage cut; specs explain the plan without executing). */
  private[graft] def curriculumScheduleCompute(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val sc = lmScores(s, dir).select(col("doc_id"), col("avg_logp"))
    // persist the ranked frame: main + anneal read it twice and
    // shuffleRankCore fans the union into ~3 more branches — without
    // the cache the two-level rank DAG re-executes ~6× (the r19
    // cache_warm_curriculum item; measured 21 s → ~6 s at sf0.1)
    val ranked = difficultyQuartiles(sc,
      scaled = col("avg_logp"),
      inBucketOrder = Seq(col("avg_logp").desc, col("doc_id")),
      bucketAscending = false, tieKey = col("doc_id")).persist()
    val main = ranked
      .withColumn("phase", col("quartile"))
      .withColumn("sort_key", concat(col("quartile").cast("string"),
        md5(concat(lit("cur:"), col("doc_id").cast("string")))))
    val anneal = ranked.filter(col("quartile") === 0)
      .withColumn("phase", lit(4L))
      .withColumn("sort_key", concat(lit("4"),
        md5(concat(lit("anneal:"), col("doc_id").cast("string")))))
    (TextOps.shuffleRankCore(main.unionByName(anneal),
      out = Seq(col("phase"), col("doc_id"), col("quartile"), col("avg_logp")),
      tie = Seq(col("doc_id")), shardWidth = 2), ranked)
  }

  /** RESUME THE CURRICULUM RUN MID-SCHEDULE — the checkpoint-restart
    * contract composed with the curriculum: the
    * [[TextOps.resumeManifest]] device over [[curriculumOrder]]'s
    * step numbering at the 60% global watermark. The seek
    * fingerprint here is the schedule's own md5 `sort_key` (phase
    * digit + salted content hash), so a re-scored corpus or
    * re-rolled schedule fails the probe instead of silently feeding
    * the wrong phase — the same guarantee the window releases get
    * from `window_fp`, at doc granularity. */
  val curriculumResume: Q = Q("text_curriculum_resume",
    TextOps.resumeOracleSql(curriculumOrder.oracle.get, 0.6, fpCol = "sort_key")) {
    (s, dir) =>
      TextOps.resumeManifest(curriculumSchedule(s, dir), 0.6, fpCol = "sort_key")
  }

  /** QUALITY-WEIGHTED CURRICULUM — the composite schedule the plain
    * [[curriculumOrder]] is blind to: difficulty alone would front a
    * probable-but-junk doc (boilerplate scores a high `avg_logp`),
    * so the composite ranks on `avg_logp + 3·quality_score` — the
    * LM-difficulty signal tempered by the heuristic
    * length/stopword/distinctness quality the curation stack already
    * computes ([[TextOps.qualityScores]]). Both inputs are ROUND(…,6)
    * engine-portable facts, so the composite (one rounded left-assoc
    * chain) replays bit-identically; quartiles/phases/anneal/step
    * numbering are [[curriculumOrder]]'s devices under fresh salts.
    * Same scale shape: the two-level (bucket, band) rank + width-2
    * shuffleRankCore — the corpus never sorts in one window. */
  val curriculumComposite: Q = Q("text_curriculum_composite",
    """WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      |vocab AS (SELECT word, COUNT(*) AS c FROM words GROUP BY 1),
      |tot AS (SELECT SUM(c) AS total FROM vocab),
      |lm AS (SELECT w.doc_id, ROUND(AVG(ln(CAST(v.c AS DOUBLE) / total)), 6) AS avg_logp
      |       FROM words w JOIN vocab v ON w.word = v.word, tot GROUP BY 1),
      |qt AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |qm AS (SELECT doc_id, len(w) AS n_tokens,
      |         len(list_filter(w, x -> x = 'the' OR x = 'a')) AS n_stop,
      |         len(list_distinct(w)) AS n_distinct FROM qt),
      |qs AS (SELECT doc_id,
      |         ROUND(((CAST(0.4 AS DOUBLE) * least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0))
      |           + (CAST(0.3 AS DOUBLE) * (1.0 - (CAST(n_stop AS DOUBLE) / n_tokens))))
      |           + (CAST(0.3 AS DOUBLE) * (CAST(n_distinct AS DOUBLE) / n_tokens)), 6)
      |           AS quality_score
      |       FROM qm),
      |sc AS (SELECT lm.doc_id, lm.avg_logp, qs.quality_score,
      |         ROUND(lm.avg_logp + CAST(3.0 AS DOUBLE) * qs.quality_score, 6) AS cscore
      |       FROM lm JOIN qs USING (doc_id)),
      |n AS (SELECT COUNT(*) AS n_docs FROM sc),
      |r AS (SELECT doc_id, avg_logp, quality_score, cscore,
      |        ROW_NUMBER() OVER (ORDER BY cscore DESC, doc_id) AS rnk FROM sc),
      |q AS (SELECT doc_id, avg_logp, quality_score, cscore,
      |        CAST(((rnk - 1) * 4) // n_docs AS BIGINT) AS quartile FROM r, n),
      |u AS (SELECT doc_id, avg_logp, quality_score, cscore, quartile,
      |        quartile AS phase,
      |        CAST(quartile AS VARCHAR) || md5('ccur:' || CAST(doc_id AS VARCHAR)) AS sort_key
      |      FROM q
      |      UNION ALL
      |      SELECT doc_id, avg_logp, quality_score, cscore, quartile, 4 AS phase,
      |        '4' || md5('canneal:' || CAST(doc_id AS VARCHAR)) AS sort_key
      |      FROM q WHERE quartile = 0)
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY sort_key, doc_id) AS BIGINT) AS ord,
      |  CAST(('0x' || substr(sort_key, 1, 2)) AS BIGINT) AS shard,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY substr(sort_key, 1, 2)
      |         ORDER BY sort_key, doc_id) AS BIGINT) AS pos,
      |  sort_key, CAST(phase AS BIGINT) AS phase, doc_id, quartile,
      |  cscore, avg_logp, quality_score
      |FROM u ORDER BY ord""".stripMargin) { (s, dir) =>
    compositeSchedule(s, dir).orderBy(col("ord"))
  }

  private val compositeMemo = graft.SessionCaches.memo[DataFrame]

  private[graft] def compositeSchedule(s: SparkSession, dir: String): DataFrame =
    compositeMemo(s, dir) {
      // cut like curriculumSchedule above (plan invariants pinned on
      // the pre-checkpoint compute)
      val (df0, sc, ranked) = compositeScheduleCompute(s, dir)
      val df = cutLineage(df0)
      sc.unpersist(); ranked.unpersist()
      df
    }

  /** Pre-checkpoint composite plan + the two build-internal persisted
    * frames (returned so the memo build can unpersist them after the
    * lineage cut; specs explain the plan without executing). */
  private[graft] def compositeScheduleCompute(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
      // persist the joined score frame: the rank device fans it into
      // ~6 branches, and the quality side re-tokenizes per branch
      // otherwise (same rationale as the lmScores memo)
      val sc = lmScores(s, dir).select(col("doc_id"), col("avg_logp"))
        .join(TextOps.qualityScores(Tables.documents(s, dir))
          .select(col("doc_id"), col("quality_score")), Seq("doc_id"))
        .withColumn("cscore",
          round(col("avg_logp") + lit(3.0) * col("quality_score"), 6))
        .persist()
      val ranked = difficultyQuartiles(sc,
        scaled = col("cscore"),
        inBucketOrder = Seq(col("cscore").desc, col("doc_id")),
        bucketAscending = false, tieKey = col("doc_id")).persist()
      val main = ranked
        .withColumn("phase", col("quartile"))
        .withColumn("sort_key", concat(col("quartile").cast("string"),
          md5(concat(lit("ccur:"), col("doc_id").cast("string")))))
      val anneal = ranked.filter(col("quartile") === 0)
        .withColumn("phase", lit(4L))
        .withColumn("sort_key", concat(lit("4"),
          md5(concat(lit("canneal:"), col("doc_id").cast("string")))))
      (TextOps.shuffleRankCore(main.unionByName(anneal),
        out = Seq(col("phase"), col("doc_id"), col("quartile"),
          col("cscore"), col("avg_logp"), col("quality_score")),
        tie = Seq(col("doc_id")), shardWidth = 2), sc, ranked)
  }

  /** CURRICULUM-ORDERED PACKING — curriculum and packing COMPOSED:
    * the composite schedule orders docs quartile-major (easy→hard,
    * deterministic shuffle within each quartile), and a real
    * dataloader packs IN that order, so the training windows
    * themselves are quartile-contiguous — not windows of the
    * doc_id-ordered pack replayed out of order. Implementation is
    * the whole-doc greedy device with the schedule position as the
    * pack key: the main-pass `ord` (phases 0–3; dense, quartile-
    * major) substitutes for doc_id, so blocks are `ord div 4096` —
    * equivalently (quartile, in-quartile rank div 4096) since the
    * order is quartile-major — and the [[TextOps.packWholeDocs]]
    * kernel + monotone-key prefix device compose verbatim (the
    * `mm_pack_whole_records` encoded-key trick, key = schedule
    * position instead of doc_id·4+mrank).
    *
    * Consequences the spec pins: mass conservation vs
    * `text_pack_whole_docs` (same docs, same token counts — only
    * window ASSIGNMENT changes), and quartile-contiguity (a window
    * mixes two quartiles only where a quartile boundary falls
    * mid-window — at most 3 such windows, one per interior
    * boundary, since block cuts at 4096·k always start fresh
    * windows). Scale shape: the schedule rides the memoized
    * two-level rank; the pack adds one bounded-block shuffle keyed
    * on ord and one join back to the schedule frame. */
  val packCurriculum: Q = Q("text_pack_curriculum",
    "WITH RECURSIVE csched AS (" + curriculumComposite.oracle.get + "),\n" +
      TextOps.wholePackOracleCtes(
        s"""
      |  SELECT 'curriculum' AS source, sch.ord AS doc_id, tk.n,
      |    sch.ord // ${TextOps.PackBlockDocs} AS blk
      |  FROM csched sch
      |  JOIN (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      |        FROM documents) tk ON tk.doc_id = sch.doc_id
      |  WHERE sch.phase < 4""".stripMargin) + """
      |SELECT sch.ord, sch.doc_id, sch.quartile, p.n_tokens,
      |  p.seq_id, p.offset_in_seq, p.is_split
      |FROM wppd p JOIN csched sch ON sch.ord = p.doc_id AND sch.phase < 4
      |ORDER BY sch.ord""".stripMargin) { (s, dir) =>
    val sched = compositeSchedule(s, dir).filter(col("phase") < 4)
      .select(col("ord"), col("doc_id"), col("quartile"))
    val perDoc = sched
      .join(lmScores(s, dir).select(col("doc_id"), col("n_tokens")), Seq("doc_id"))
      .select(lit("curriculum").as("source"), col("ord").as("doc_id"),
        col("n_tokens"))
    TextOps.packWholeDocs(perDoc)
      .select(col("doc_id").as("ord"), col("n_tokens"), col("seq_id"),
        col("offset_in_seq"), col("is_split"))
      .join(sched, Seq("ord"))
      .select(col("ord"), col("doc_id"), col("quartile"), col("n_tokens"),
        col("seq_id"), col("offset_in_seq"), col("is_split"))
      .orderBy(col("ord"))
  }

  /** Sub-bands per unit score bucket — the fan-out knob of the
    * two-level curriculum rank below. 16 keeps the offsets frame
    * trivially bounded (alphabet × 16 rows); a 100 TB run widens it
    * so each (bucket, band) window task holds a few GB. */
  private[graft] val QuartileBands = 16

  /** The scalable global-quartile cut shared by the text and
    * trimodal curricula, TWO-LEVEL so no single window task ever
    * holds a whole score bucket: `scaled` is the score mapped so
    * unit slices are the coarse `bucket` (`floor(scaled)`, bounded
    * alphabet); within each bucket the fractional part is cut into
    * [[QuartileBands]] RANGE sub-bands, ranks ride a window
    * hash-partitioned on (bucket, band) — each task holds
    * O(corpus / (alphabet·bands)) rows — and global offsets come
    * from a (bucket, band)-bounded prefix sum joined back
    * broadcast; the quartile is exact integer arithmetic against a
    * 1-row count. The corpus is never sorted in one window and no
    * bucket lands in one task.
    *
    * The sub-band is a RANGE cut of the score, not an md5 hash,
    * for the same reason [[TextOps.sourcePrefixSum]]'s sub-shard is:
    * only a bucket weakly MONOTONE in the rank order lets per-band
    * totals compose into the exact global rank — quartile membership
    * is a function of that rank, so a hash band would flip docs
    * across quartile boundaries. Ties (equal scores) collapse into
    * one band harmlessly: the within-band window still orders by the
    * true `inBucketOrder` key, so output is bit-identical to a
    * single global sort. `bucketAscending` must orient BOTH prefix
    * levels to match `inBucketOrder`'s score direction. Returns the
    * input columns plus `quartile`. */
  private[graft] def difficultyQuartiles(df: DataFrame, scaled: Column,
                                         inBucketOrder: Seq[Column],
                                         bucketAscending: Boolean,
                                         tieKey: Column,
                                         keepBands: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // frac ∈ [0,1) exactly, but frac*BANDS can round UP to BANDS at
    // the representable-double edge — clamp (cf. sourcePrefixSum)
    val bucketed = df.withColumn("qr_scaled", scaled)
      .withColumn("bucket", floor(col("qr_scaled")).cast("long"))
      .withColumn("qr_band", least(
        floor((col("qr_scaled") - col("bucket")) * QuartileBands),
        lit(QuartileBands - 1L)).cast("long"))
      .withColumn("qr_tkey", tieKey.cast("long"))
    // THIRD-level cut, applied only inside exact-score tie groups: a
    // (bucket, band) holding ONE score value (a score ATOM — e.g. an
    // integer-valued difficulty putting 50% of the corpus on one
    // number) would otherwise sort its whole population in one window
    // task. Inside a pure band the in-bucket order IS the structural
    // tiebreak (`tieKey`, a monotone integer encoding of the
    // inBucketOrder tail), so a RANGE band of the tiebreak is
    // order-monotone there and the task can split; a MIXED band keeps
    // qr_tie = 0 (a tiebreak range is NOT monotone across scores).
    // Purity frame and tie anchors are bounded (alphabet × bands
    // rows; 1 row) — the offsets frame stays ≤ alphabet × bands².
    val pure = bucketed.groupBy(col("bucket"), col("qr_band"))
      .agg((min(col("qr_scaled")) === max(col("qr_scaled"))).as("qr_pure"))
    val anchor = bucketed.agg(min(col("qr_tkey")).as("qr_tmn"),
      (max(col("qr_tkey")) + 1L).as("qr_tmx1"))
    val cut = bucketed
      .join(broadcast(pure), Seq("bucket", "qr_band"))
      .crossJoin(broadcast(anchor))
      .withColumn("qr_tie", when(col("qr_pure"),
          expr(s"((qr_tkey - qr_tmn) * $QuartileBands) div (qr_tmx1 - qr_tmn)"))
        .otherwise(lit(0L)))
      .drop("qr_pure", "qr_tmn", "qr_tmx1", "qr_tkey")
    val withPos = cut.withColumn("bpos",
      row_number().over(Window.partitionBy(col("bucket"), col("qr_band"), col("qr_tie"))
        .orderBy(inBucketOrder: _*)).cast("long"))
    // qr_tie orders ASCENDING even under a descending bucket walk:
    // within a pure band the score is constant, so the in-bucket
    // order there is the ascending structural tiebreak itself
    val bw = Window.orderBy(
      (if (bucketAscending) Seq(col("bucket"), col("qr_band"), col("qr_tie"))
       else Seq(col("bucket").desc, col("qr_band").desc, col("qr_tie"))): _*)
    val off = withPos.groupBy(col("bucket"), col("qr_band"), col("qr_tie"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("boff", coalesce(sum(col("cnt")).over(
        bw.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("qr_band"), col("qr_tie"), col("boff"))
    val n = df.agg(count(lit(1)).as("qr_n"))
    val out = withPos.join(broadcast(off), Seq("bucket", "qr_band", "qr_tie"))
      .crossJoin(broadcast(n))
      .withColumn("quartile", expr("((boff + bpos - 1) * 4) div qr_n").cast("long"))
      .drop("qr_scaled", "bpos", "boff", "qr_n")
    // keepBands retains the (bucket, qr_band, qr_tie) task keys — the
    // planted-atom spec's hook for asserting no single task holds an
    // atom's whole tie group
    if (keepBands) out else out.drop("bucket", "qr_band", "qr_tie")
  }

  /** QUARTILE MEMBERSHIP WITHOUT A SECOND GLOBAL RANK — the
    * closed-form banding the composite-curriculum certificates' non-
    * vacuity leg needs (`quality_moves_membership` compares composite
    * vs single-signal quartiles; it needs the single-signal
    * MEMBERSHIP, not its full ord/sort_key schedule, so paying a
    * second [[difficultyQuartiles]] + rank pass was pure waste — the
    * r19 verdict's `cache_warm_curriculum` item).
    *
    * Equivalence to `difficultyQuartiles(df, scaled, inBucketOrder =
    * (score, tie…), bucketAscending = true, tieKey)`: with `scaled` a
    * strictly monotone transform of the score and `tieKey` a total
    * structural tiebreak, the device's global ascending order is
    * exactly the lexicographic (scaled, tkey) order, and
    * `quartile(rnk) = ((rnk−1)·4) div N` means `quartile ≥ q  ⟺
    * rnk ≥ r_q` with `r_q = ceil(q·N/4)+1`. So membership is a
    * 3-way comparison against the three BOUNDARY KEYS — the rows at
    * global ranks r_1, r_2, r_3 — and only those keys need locating:
    *
    *  1. the same (bucket, band, tie) three-level cut as the rank
    *     device (RANGE bands, pure-band structural sub-split — the
    *     atom-proof task bound carries over verbatim);
    *  2. a per-slice count frame, bounded ≤ alphabet × bands² rows
    *     by construction — collected, like the rank device
    *     broadcasts it (the ONLY collect; provably bounded);
    *  3. a rank window over just the ≤ 3 slices that contain a
    *     boundary (each slice is one rank-device task's population —
    *     O(corpus / (alphabet·bands²)) rows, NOT the corpus);
    *  4. membership = Σ_q [ (scaled, tkey) ≥ boundary_q ], a
    *     stateless per-row predicate against 3 literals.
    *
    * No shuffle of the full frame, no global rank — one bounded
    * aggregate + one ≤3-slice window + a map-side comparison.
    * Returns `df` plus the `quartile` column. Ascending score order
    * only (both composite certificates rank ascending). */
  private[graft] def quartileMembershipAsc(df: DataFrame, scaled: Column,
                                           tieKey: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucketed = df.withColumn("qm_scaled", scaled)
      .withColumn("qm_bucket", floor(col("qm_scaled")).cast("long"))
      .withColumn("qm_band", least(
        floor((col("qm_scaled") - col("qm_bucket")) * QuartileBands),
        lit(QuartileBands - 1L)).cast("long"))
      .withColumn("qm_tkey", tieKey.cast("long"))
    val pure = bucketed.groupBy(col("qm_bucket"), col("qm_band"))
      .agg((min(col("qm_scaled")) === max(col("qm_scaled"))).as("qm_pure"))
    val anchor = bucketed.agg(min(col("qm_tkey")).as("qm_tmn"),
      (max(col("qm_tkey")) + 1L).as("qm_tmx1"))
    val cut = bucketed.join(broadcast(pure), Seq("qm_bucket", "qm_band"))
      .crossJoin(broadcast(anchor))
      .withColumn("qm_tie", when(col("qm_pure"),
          expr(s"((qm_tkey - qm_tmn) * $QuartileBands) div (qm_tmx1 - qm_tmn)"))
        .otherwise(lit(0L)))
      .drop("qm_pure", "qm_tmn", "qm_tmx1")
    // slice counts: ≤ alphabet × bands² rows by construction (the
    // same frame the rank device prefix-sums and broadcasts)
    val slices = cut.groupBy(col("qm_bucket"), col("qm_band"), col("qm_tie"))
      .agg(count(lit(1)).as("qm_cnt"))
      .orderBy(col("qm_bucket"), col("qm_band"), col("qm_tie"))
      .collect()
    var running = 0L
    val offs = slices.map { r =>
      val o = (r.getLong(0), r.getLong(1), r.getLong(2), running, r.getLong(3))
      running += r.getLong(3); o
    }
    val nTot = running
    // first global rank of quartile q: r_q = ceil(q·N/4) + 1; a rank
    // past N means no row reaches that quartile (tiny frames) — skip
    val bounds = (1 to 3).flatMap { q =>
      val rq = (q * nTot + 3) / 4 + 1
      offs.find { case (_, _, _, off, cnt) => off < rq && rq <= off + cnt }
        .map { case (bk, bd, tn, off, _) => (bk, bd, tn, rq - off) }
    }
    if (bounds.isEmpty) df.withColumn("quartile", lit(0L))
    else {
      val sliceFilter = bounds.map { case (bk, bd, tn, _) =>
        col("qm_bucket") === bk && col("qm_band") === bd && col("qm_tie") === tn
      }.reduce(_ || _)
      val posFilter = bounds.map { case (bk, bd, tn, p) =>
        col("qm_bucket") === bk && col("qm_band") === bd &&
          col("qm_tie") === tn && col("qm_pos") === p
      }.reduce(_ || _)
      // ≤ 3 boundary rows — the second bounded collect
      val keys = cut.filter(sliceFilter)
        .withColumn("qm_pos", row_number().over(
          Window.partitionBy(col("qm_bucket"), col("qm_band"), col("qm_tie"))
            .orderBy(col("qm_scaled"), col("qm_tkey"))).cast("long"))
        .filter(posFilter)
        .select(col("qm_scaled"), col("qm_tkey"))
        .collect().map(r => (r.getDouble(0), r.getLong(1)))
      val s = scaled; val t = tieKey.cast("long")
      val memb = keys.foldLeft(lit(0L)) { case (acc, (sq, tq)) =>
        acc + when(s > lit(sq) || (s === lit(sq) && t >= lit(tq)), 1L)
          .otherwise(0L)
      }
      df.withColumn("quartile", memb)
    }
  }

  // ---------------------------------------------------------------- drift
  /** CORPUS DRIFT MONITOR — the between-crawls audit a continuously
    * refreshed corpus needs: cut the ingest (doc_id order) into four
    * structural slices by exact integer arithmetic, take slice 0 as
    * the reference, and report the Population Stability Index of
    * each later slice's length and language distributions against
    * it. Buckets are corpus-independent (200-char length bands
    * capped at band 9; languages as-is), counts are
    * Laplace-smoothed over the CORPUS-WIDE bucket domain so an
    * empty bucket never divides by zero, and the standard PSI ≥ 0.2
    * "significant shift" flag rides the ROUNDED value so the boolean
    * is engine-portable.
    *
    * Scale shape: one scan + one groupBy on a bounded key alphabet
    * (4 slices × {10 length bands + |langs|}) with map-side partial
    * aggregation; everything after the count frame is arithmetic
    * over ≤ a few dozen rows. The min/max slice anchor is a 1-row
    * aggregate (the structural-cut device of the release series). */
  /** The drift-report CTE chain (through `psi`) — shared by the
    * batch monitor, its streaming twin, and the quarantine gate
    * (which pivots `psi` into per-slice promotion verdicts). */
  private[graft] def driftOracleCtes: String =
    """WITH mm AS (SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx FROM documents),
      |d AS (SELECT doc_id, n_chars, lang,
      |        CAST(((doc_id - mn) * 4) // (mx - mn + 1) AS BIGINT) AS slice
      |      FROM documents, mm),
      |b AS (SELECT slice, 'len' AS feature,
      |        CAST(LEAST(n_chars // 200, 9) AS VARCHAR) AS bucket FROM d
      |      UNION ALL SELECT slice, 'lang', lang FROM d),
      |dom AS (SELECT DISTINCT feature, bucket FROM b),
      |ns AS (SELECT slice, COUNT(*) AS n FROM d GROUP BY 1),
      |bc AS (SELECT feature, COUNT(*) AS nb FROM dom GROUP BY 1),
      |c AS (SELECT slice, feature, bucket, COUNT(*) AS c FROM b GROUP BY 1, 2, 3),
      |grid AS (SELECT s.slice, dom.feature, dom.bucket, ns.n, bc.nb,
      |           COALESCE(c.c, 0) AS c
      |         FROM (SELECT DISTINCT slice FROM d) s
      |         CROSS JOIN dom
      |         JOIN ns ON ns.slice = s.slice
      |         JOIN bc ON bc.feature = dom.feature
      |         LEFT JOIN c ON c.slice = s.slice AND c.feature = dom.feature
      |                    AND c.bucket = dom.bucket),
      |p AS (SELECT slice, feature, bucket,
      |        (CAST(c AS DOUBLE) + 1) / (n + nb) AS p FROM grid),
      |ref AS (SELECT feature, bucket, p AS q FROM p WHERE slice = 0),
      |psi AS (SELECT p.slice, p.feature,
      |          ROUND(SUM((p.p - ref.q) * ln(p.p / ref.q)), 6) AS psi
      |        FROM p JOIN ref ON ref.feature = p.feature AND ref.bucket = p.bucket
      |        WHERE p.slice > 0 GROUP BY 1, 2)""".stripMargin

  val corpusDrift: Q = Q("text_corpus_drift",
    driftOracleCtes + """
      |SELECT psi.slice, psi.feature, ns.n AS n_docs, psi.psi, psi.psi >= 0.2 AS drifted
      |FROM psi JOIN ns ON ns.slice = psi.slice ORDER BY psi.slice, psi.feature""".stripMargin) {
    (s, dir) =>
      psiReport(s, driftBucketCounts(s, dir))
  }

  /** The corpus-scale half of [[corpusDrift]]: one scan → the
    * bounded `(slice, feature, bucket, c)` count frame. Shared with
    * the streaming twin, whose micro-batches each contribute a
    * partial count frame that sums to this one (counts are additive,
    * so the monitor composes over any slicing). */
  private[graft] def driftBucketCounts(s: SparkSession, dir: String): DataFrame = {
    val (mn, mx) = driftAnchors(s, dir)
    driftBuckets(Tables.documents(s, dir), mn, mx)
      .groupBy(col("slice"), col("feature"), col("bucket"))
      .agg(count(lit(1)).as("c"))
  }

  /** Corpus min/max doc_id — the structural-slice anchor (a 1-row
    * aggregate; the streaming twin pays it once at prepare, not per
    * micro-batch). */
  private[graft] def driftAnchors(s: SparkSession, dir: String): (Long, Long) = {
    val r = Tables.documents(s, dir).agg(min(col("doc_id")), max(col("doc_id"))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** The structural-slice column: `⌊(doc_id − mn)·4 / (mx − mn + 1)⌋`
    * — THE one spelling of the slice arithmetic, shared by the text
    * and media drift bucketers and both streaming per-batch handlers
    * (it must stay in exact lockstep with the oracle CTEs' `//`
    * integer division, so it lives in one place). */
  private[graft] def sliceCol(mn: Long, mx: Long): Column =
    expr(s"((doc_id - ${mn}L) * 4) div ${mx - mn + 1}L")

  /** Per-doc `(…carry…, feature, bucket)` rows — THE one spelling of
    * the text drift bucketer (200-char length bands capped at 9;
    * languages as-is), shared by the within-scan monitor and the
    * cross-release baseline device so the two report families can
    * never bucket differently. */
  private[graft] def featurePairs(docs: DataFrame, carry: Seq[Column]): DataFrame =
    docs.select(carry :+ lit("len").as("feature")
        :+ least(expr("n_chars div 200"), lit(9L)).cast("string").as("bucket"): _*)
      .unionByName(docs.select(carry :+ lit("lang").as("feature")
        :+ col("lang").as("bucket"): _*))

  /** Per-doc `(slice, feature, bucket)` rows of a documents frame —
    * slice anchors (corpus min/max doc_id) come from the STATIC
    * table so a streamed batch buckets identically to the batch
    * scan. */
  private[graft] def driftBuckets(docs: DataFrame, mn: Long, mx: Long): DataFrame =
    featurePairs(docs.withColumn("slice", sliceCol(mn, mx)), Seq(col("slice")))

  /** PSI arithmetic over a bounded count frame (everything here is
    * ≤ 4 slices × bucket-domain rows — broadcast-sized by
    * construction). `nsFeature` names the feature whose per-slice
    * count mass equals the row population (every row contributes
    * exactly one bucket per feature, so any one feature works). */
  private[graft] def psiReport(s: SparkSession, counts: DataFrame,
                               nsFeature: String = "len"): DataFrame = {
    val dom = counts.select(col("feature"), col("bucket")).distinct()
    val ns = counts.filter(col("feature") === nsFeature)
      .groupBy(col("slice")).agg(sum(col("c")).as("n"))
    val bc = dom.groupBy(col("feature")).agg(count(lit(1)).as("nb"))
    val grid = ns.crossJoin(dom)
      .join(broadcast(bc), Seq("feature"))
      .join(counts, Seq("slice", "feature", "bucket"), "left_outer")
      .na.fill(0L, Seq("c"))
      .withColumn("p", (col("c").cast("double") + 1) / (col("n") + col("nb")))
    val ref = grid.filter(col("slice") === 0)
      .select(col("feature"), col("bucket"), col("p").as("q"))
    grid.filter(col("slice") > 0)
      .join(broadcast(ref), Seq("feature", "bucket"))
      .groupBy(col("slice"), col("feature"))
      .agg(round(sum((col("p") - col("q")) * log(col("p") / col("q"))), 6).as("psi"))
      .join(broadcast(ns), Seq("slice"))
      .select(col("slice"), col("feature"), col("n").as("n_docs"), col("psi"),
        (col("psi") >= 0.2).as("drifted"))
      .orderBy(col("slice"), col("feature"))
  }

  // -------------------------------------------- cross-release drift baseline
  /** The persisted reference distribution's artifact name — the
    * per-feature bucket counts of the LAST PROMOTED release, a
    * [[graft.sources.VersionedStore]] frame the monitors re-resolve
    * (the model-gate discipline applied to drift). */
  val DriftBaselineName = "drift_baseline"

  /** The structural midpoint splitting "the last promoted release's
    * crawl" (doc_id < mid) from "the new crawl" (doc_id ≥ mid) —
    * the exact integer (min+max)/2 the series/forget worlds cut at.
    * NOT floor(avg): Spark sums integral AVG in DOUBLE, so past
    * ~2^53 of summed ids an avg-based cut becomes partition-order-
    * dependent and can diverge from the oracle at the 100 TB design
    * point; min/max compose exactly at any scale. */
  private[graft] def releaseMid(s: SparkSession, dir: String): Long = {
    val r = Tables.documents(s, dir)
      .agg(min(col("doc_id")), max(col("doc_id"))).head()
    (r.getLong(0) + r.getLong(1)) / 2
  }

  /** Per-feature bucket counts of a baseline population (no slice —
    * one reference distribution), the frame that gets REGISTERED. */
  private[graft] def baselineCounts(docs: DataFrame): DataFrame =
    featurePairs(docs, Seq.empty)
      .groupBy(col("feature"), col("bucket")).agg(count(lit(1)).as("c"))

  /** PSI of each new-crawl slice against a PROMOTED baseline
    * distribution — [[psiReport]]'s arithmetic with the reference
    * swapped from slice 0 of the same scan to the persisted
    * cross-release artifact. The Laplace domain is the UNION of the
    * two sides' buckets (a bucket new to either side still smooths),
    * `nsFeature` carries each side's population, and the resolved
    * baseline VERSION rides every row so a report is attributable to
    * the exact release it judged against. Bounded end to end: both
    * count frames are (slices+1) × bucket-domain rows. */
  private[graft] def psiVsBaseline(newCounts: DataFrame, baseCounts: DataFrame,
                                   baselineVersion: Int,
                                   nsFeature: String = "len"): DataFrame = {
    val dom = newCounts.select(col("feature"), col("bucket"))
      .unionByName(baseCounts.select(col("feature"), col("bucket"))).distinct()
    val bc = dom.groupBy(col("feature")).agg(count(lit(1)).as("nb"))
    val bpop = baseCounts.filter(col("feature") === nsFeature)
      .agg(sum(col("c")).as("bn"))
    val q = dom.join(broadcast(bc), Seq("feature"))
      .crossJoin(broadcast(bpop))
      .join(baseCounts.withColumnRenamed("c", "bcv"),
        Seq("feature", "bucket"), "left_outer")
      .na.fill(0L, Seq("bcv"))
      .withColumn("q", (col("bcv").cast("double") + 1) / (col("bn") + col("nb")))
      .select(col("feature"), col("bucket"), col("q"))
    val ns = newCounts.filter(col("feature") === nsFeature)
      .groupBy(col("slice")).agg(sum(col("c")).as("n"))
    val grid = ns.crossJoin(dom)
      .join(broadcast(bc), Seq("feature"))
      .join(newCounts, Seq("slice", "feature", "bucket"), "left_outer")
      .na.fill(0L, Seq("c"))
      .withColumn("p", (col("c").cast("double") + 1) / (col("n") + col("nb")))
    grid.join(broadcast(q), Seq("feature", "bucket"))
      .groupBy(col("slice"), col("feature"))
      .agg(round(sum((col("p") - col("q")) * log(col("p") / col("q"))), 6).as("psi"))
      .join(broadcast(ns), Seq("slice"))
      .select(col("slice"), col("feature"), col("n").as("n_docs"), col("psi"),
        (col("psi") >= 0.2).as("drifted"),
        lit(baselineVersion.toLong).as("baseline_version"))
      .orderBy(col("slice"), col("feature"))
  }

  /** The cross-release CTE chain (through `bpsi`/`bns`) — the oracle
    * rebuild of the baseline device, shared by the batch monitor and
    * the streaming quarantine twin. Baseline = doc_id < the exact
    * integer midpoint (MIN+MAX)//2 (float-summation-proof, matching
    * [[releaseMid]]); new crawl = the rest, cut into 4 structural
    * slices by ITS OWN anchors; Laplace domain = union of both
    * sides' buckets. */
  private[graft] def baselineDriftOracleCtes: String =
    """WITH bmid AS (SELECT (MIN(doc_id) + MAX(doc_id)) // 2 AS mid FROM documents),
      |bbase AS (SELECT doc_id, n_chars, lang FROM documents, bmid WHERE doc_id < mid),
      |bnew AS (SELECT doc_id, n_chars, lang FROM documents, bmid WHERE doc_id >= mid),
      |bmm AS (SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx FROM bnew),
      |bnd AS (SELECT doc_id, n_chars, lang,
      |          CAST(((doc_id - mn) * 4) // (mx - mn + 1) AS BIGINT) AS slice
      |        FROM bnew, bmm),
      |bfb AS (SELECT 'len' AS feature,
      |          CAST(LEAST(n_chars // 200, 9) AS VARCHAR) AS bucket FROM bbase
      |        UNION ALL SELECT 'lang', lang FROM bbase),
      |nfb AS (SELECT slice, 'len' AS feature,
      |          CAST(LEAST(n_chars // 200, 9) AS VARCHAR) AS bucket FROM bnd
      |        UNION ALL SELECT slice, 'lang', lang FROM bnd),
      |bdom AS (SELECT DISTINCT feature, bucket FROM
      |           (SELECT feature, bucket FROM bfb
      |            UNION ALL SELECT feature, bucket FROM nfb)),
      |bbc AS (SELECT feature, COUNT(*) AS nb FROM bdom GROUP BY 1),
      |bpop AS (SELECT COUNT(*) AS n FROM bbase),
      |bcnt AS (SELECT feature, bucket, COUNT(*) AS c FROM bfb GROUP BY 1, 2),
      |bq AS (SELECT bdom.feature, bdom.bucket,
      |         (CAST(COALESCE(bcnt.c, 0) AS DOUBLE) + 1) / (bpop.n + bbc.nb) AS q
      |       FROM bdom JOIN bbc ON bbc.feature = bdom.feature
      |       CROSS JOIN bpop
      |       LEFT JOIN bcnt ON bcnt.feature = bdom.feature
      |                     AND bcnt.bucket = bdom.bucket),
      |bns AS (SELECT slice, COUNT(*) AS n FROM bnd GROUP BY 1),
      |nbcnt AS (SELECT slice, feature, bucket, COUNT(*) AS c FROM nfb GROUP BY 1, 2, 3),
      |bnp AS (SELECT s.slice, bdom.feature, bdom.bucket,
      |          (CAST(COALESCE(nbcnt.c, 0) AS DOUBLE) + 1) / (bns.n + bbc.nb) AS p
      |        FROM (SELECT DISTINCT slice FROM bnd) s
      |        CROSS JOIN bdom
      |        JOIN bns ON bns.slice = s.slice
      |        JOIN bbc ON bbc.feature = bdom.feature
      |        LEFT JOIN nbcnt ON nbcnt.slice = s.slice AND nbcnt.feature = bdom.feature
      |                       AND nbcnt.bucket = bdom.bucket),
      |bpsi AS (SELECT bnp.slice, bnp.feature,
      |           ROUND(SUM((bnp.p - bq.q) * ln(bnp.p / bq.q)), 6) AS psi
      |         FROM bnp JOIN bq ON bq.feature = bnp.feature AND bq.bucket = bnp.bucket
      |         GROUP BY 1, 2)""".stripMargin

  /** One cross-release baseline world per (application, sf dir): the
    * last release's bucket counts REGISTERED + PROMOTED in a
    * versioned store, then the report computed through a production
    * RE-RESOLVE (pointer, not lineage — re-promoting a new baseline
    * moves the next report, the promote-then-drift spec's pin). Owns
    * its store (Reapable). */
  private final case class BaselineWorld(store: graft.sources.FrameStore,
      report: DataFrame) extends graft.Reapable {
    def reapRoots: Seq[String] = Seq(store.root)
  }

  private val baselineMemo = graft.SessionCaches.memo[BaselineWorld]

  /** CROSS-RELEASE DRIFT MONITOR — the operational form of
    * [[corpusDrift]]: the reference is not slice 0 of the same scan
    * but the PERSISTED distribution of the last promoted release (a
    * versioned artifact), so the monitor catches drift BETWEEN
    * releases, not within one crawl. The resolved baseline version
    * rides every report row. */
  val driftBaseline: Q = Q("text_drift_baseline",
    baselineDriftOracleCtes + """
      |SELECT bpsi.slice, bpsi.feature, bns.n AS n_docs, bpsi.psi,
      |  bpsi.psi >= 0.2 AS drifted, CAST(1 AS BIGINT) AS baseline_version
      |FROM bpsi JOIN bns ON bns.slice = bpsi.slice
      |ORDER BY bpsi.slice, bpsi.feature""".stripMargin) { (s, dir) =>
    baselineMemo(s, dir) {
      val docs = Tables.documents(s, dir)
      val mid = releaseMid(s, dir)
      val store = new graft.sources.FrameStore(
        graft.sources.Scratch.dir("graft-driftbase-").toString + "/store")
      store.publish(s, DriftBaselineName, baselineCounts(docs.filter(col("doc_id") < mid)))
      val newDocs = docs.filter(col("doc_id") >= mid)
      val r = newDocs.agg(min(col("doc_id")), max(col("doc_id"))).head()
      val newCounts = driftBuckets(newDocs, r.getLong(0), r.getLong(1))
        .groupBy(col("slice"), col("feature"), col("bucket"))
        .agg(count(lit(1)).as("c"))
      val bv = store.productionVersion(DriftBaselineName)
        .getOrElse(sys.error("no promoted drift baseline"))
      val base = store.production(s, DriftBaselineName)
      BaselineWorld(store,
        cutLineage(psiVsBaseline(newCounts, base, bv)))
    }.report.orderBy(col("slice"), col("feature"))
  }

  /** One release-series drift world per (application, sf dir): three
    * accreting releases' bucket counts REGISTERED as successive
    * versions of the `drift_baseline` artifact, then the longitudinal
    * report computed off the RELOADED versioned artifacts (the chart
    * a corpus owner reads — each release judged against each
    * predecessor). Owns its store (Reapable). */
  private final case class SeriesDriftWorld(store: graft.sources.FrameStore,
      report: DataFrame) extends graft.Reapable {
    def reapRoots: Seq[String] = Seq(store.root)
  }

  private val seriesDriftMemo = graft.SessionCaches.memo[SeriesDriftWorld]

  /** LONGITUDINAL DRIFT ACROSS THE RELEASE SERIES — [[driftBaseline]]
    * judged against one predecessor becomes the full |versions|²
    * triangle: three accreting releases (exact integer thirds of the
    * doc_id span — the structural-cut convention) register as
    * drift_baseline v1/v2/v3, and the report is the PSI of every
    * (newer, older) version pair per feature over the union-domain
    * Laplace smoothing [[psiVsBaseline]] uses, with BOTH versions on
    * every row. Catching slow drift needs the triangle: a per-release
    * step can stay under the 0.2 gate while v3-vs-v1 crosses it.
    *
    * Scale shape: everything after the three bucket-count scans (one
    * groupBy each on the bounded feature×bucket alphabet, map-side
    * combined) is arithmetic over ≤ |versions|² × bucket-domain rows
    * — tens of rows at any corpus size. */
  val driftSeries: Q = Q("text_drift_series",
    """WITH mm0 AS (SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx FROM documents),
      |rel AS (SELECT CAST(r.range + 1 AS BIGINT) AS version,
      |          mn + ((mx - mn + 1) * (r.range + 1)) // 3 AS cut
      |        FROM range(3) r, mm0),
      |fb AS (SELECT doc_id, 'len' AS feature,
      |         CAST(LEAST(n_chars // 200, 9) AS VARCHAR) AS bucket FROM documents
      |       UNION ALL SELECT doc_id, 'lang', lang FROM documents),
      |vc AS (SELECT rel.version, fb.feature, fb.bucket, COUNT(*) AS c
      |       FROM rel JOIN fb ON fb.doc_id < rel.cut
      |       GROUP BY 1, 2, 3),
      |pr AS (SELECT a.version AS v_new, b.version AS v_base
      |       FROM (SELECT DISTINCT version FROM vc) a
      |       JOIN (SELECT DISTINCT version FROM vc) b ON a.version > b.version),
      |dm AS (SELECT DISTINCT pr.v_new, pr.v_base, vc.feature, vc.bucket
      |       FROM pr JOIN vc ON vc.version = pr.v_new OR vc.version = pr.v_base),
      |nbp AS (SELECT v_new, v_base, feature, COUNT(*) AS nb
      |        FROM dm GROUP BY 1, 2, 3),
      |ns AS (SELECT version, SUM(c) AS n FROM vc WHERE feature = 'len' GROUP BY 1),
      |grid AS (SELECT dm.v_new, dm.v_base, dm.feature, dm.bucket, nbp.nb,
      |           COALESCE(cn.c, 0) AS cn, COALESCE(cb.c, 0) AS cb,
      |           nn.n AS n_new, nbs.n AS n_base
      |         FROM dm
      |         JOIN nbp ON nbp.v_new = dm.v_new AND nbp.v_base = dm.v_base
      |                 AND nbp.feature = dm.feature
      |         LEFT JOIN vc cn ON cn.version = dm.v_new AND cn.feature = dm.feature
      |                        AND cn.bucket = dm.bucket
      |         LEFT JOIN vc cb ON cb.version = dm.v_base AND cb.feature = dm.feature
      |                        AND cb.bucket = dm.bucket
      |         JOIN ns nn ON nn.version = dm.v_new
      |         JOIN ns nbs ON nbs.version = dm.v_base)
      |SELECT v_new, v_base, feature,
      |  CAST(n_new AS BIGINT) AS n_new, CAST(n_base AS BIGINT) AS n_base,
      |  ROUND(SUM(((CAST(cn AS DOUBLE) + 1) / (n_new + nb)
      |             - (CAST(cb AS DOUBLE) + 1) / (n_base + nb))
      |        * ln(((CAST(cn AS DOUBLE) + 1) / (n_new + nb))
      |             / ((CAST(cb AS DOUBLE) + 1) / (n_base + nb)))), 6) AS psi,
      |  ROUND(SUM(((CAST(cn AS DOUBLE) + 1) / (n_new + nb)
      |             - (CAST(cb AS DOUBLE) + 1) / (n_base + nb))
      |        * ln(((CAST(cn AS DOUBLE) + 1) / (n_new + nb))
      |             / ((CAST(cb AS DOUBLE) + 1) / (n_base + nb)))), 6) >= 0.2 AS drifted
      |FROM grid GROUP BY 1, 2, 3, n_new, n_base
      |ORDER BY v_new, v_base, feature""".stripMargin) { (s, dir) =>
    seriesDriftMemo(s, dir) {
      val docs = Tables.documents(s, dir)
      val r = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
      val (mn, mx) = (r.getLong(0), r.getLong(1))
      val store = new graft.sources.FrameStore(
        graft.sources.Scratch.dir("graft-driftseries-").toString + "/store")
      val versions = (1 to 3).map { v =>
        val cut = mn + (mx - mn + 1) * v / 3
        store.publish(s, DriftBaselineName, baselineCounts(docs.filter(col("doc_id") < cut)))
      }
      // the report reads the RELOADED versioned artifacts, not the
      // frames it just built — the longitudinal chart is a fact of
      // the persisted series
      val counts = versions.map { v =>
        store.load(s, DriftBaselineName, v)
          .withColumn("version", lit(v.toLong))
      }.reduce(_ unionByName _)
      SeriesDriftWorld(store, cutLineage(psiSeries(counts)))
    }.report.orderBy(col("v_new"), col("v_base"), col("feature"))
  }

  /** The pairwise-PSI triangle over a (version, feature, bucket, c)
    * frame — [[psiVsBaseline]]'s union-domain Laplace arithmetic for
    * every (newer, older) version pair. Bounded end to end.
    * `nsFeature` names the feature whose count mass is each
    * version's population (len for text releases, rms for media). */
  private[graft] def psiSeries(counts: DataFrame,
                               nsFeature: String = "len"): DataFrame = {
    val vs = counts.select(col("version")).distinct()
    val pairs = vs.select(col("version").as("v_new"))
      .join(vs.select(col("version").as("v_base")), col("v_new") > col("v_base"))
    val vb = counts.select(col("version"), col("feature"), col("bucket"))
    val dom = pairs.join(vb.withColumnRenamed("version", "v_new"), Seq("v_new"))
      .select(col("v_new"), col("v_base"), col("feature"), col("bucket"))
      .unionByName(pairs.join(vb.withColumnRenamed("version", "v_base"), Seq("v_base"))
        .select(col("v_new"), col("v_base"), col("feature"), col("bucket")))
      .distinct()
    val nbp = dom.groupBy(col("v_new"), col("v_base"), col("feature"))
      .agg(count(lit(1)).as("nb"))
    val ns = counts.filter(col("feature") === nsFeature)
      .groupBy(col("version")).agg(sum(col("c")).as("n"))
    dom
      .join(broadcast(nbp), Seq("v_new", "v_base", "feature"))
      .join(counts.select(col("version").as("v_new"), col("feature"),
        col("bucket"), col("c").as("cn")),
        Seq("v_new", "feature", "bucket"), "left_outer")
      .join(counts.select(col("version").as("v_base"), col("feature"),
        col("bucket"), col("c").as("cb")),
        Seq("v_base", "feature", "bucket"), "left_outer")
      .na.fill(0L, Seq("cn", "cb"))
      .join(broadcast(ns.select(col("version").as("v_new"), col("n").as("n_new"))),
        Seq("v_new"))
      .join(broadcast(ns.select(col("version").as("v_base"), col("n").as("n_base"))),
        Seq("v_base"))
      .withColumn("p", (col("cn").cast("double") + 1) / (col("n_new") + col("nb")))
      .withColumn("q", (col("cb").cast("double") + 1) / (col("n_base") + col("nb")))
      .groupBy(col("v_new"), col("v_base"), col("feature"),
        col("n_new"), col("n_base"))
      .agg(round(sum((col("p") - col("q")) * log(col("p") / col("q"))), 6).as("psi"))
      .select(col("v_new"), col("v_base"), col("feature"),
        col("n_new"), col("n_base"), col("psi"),
        (col("psi") >= 0.2).as("drifted"))
  }

  val all: Seq[Q] = Seq(splitAssign, sourceMix, lmScore, repetitionScore, epochMix,
    mixPack, packForget, curriculumOrder, curriculumResume, curriculumComposite,
    packCurriculum, corpusDrift, driftBaseline, driftSeries)
}
