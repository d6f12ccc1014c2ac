package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DoubleType, MapType, StringType}

/** Closed-form scoring expressions — the reference's per-record Python
  * scoring loop re-expressed as pure Catalyst column expressions so the
  * whole pipeline stays inside WholeStageCodegen (no UDFs, no
  * per-record interpretation).
  *
  * Reference semantics:
  *  - ordered feature projection with 0.0 default fill
  *    (`services/fraud_service/app/main.py:64,107`)
  *  - map augmentation `features["amount"]=amount` (`main.py:176,228`)
  *  - heuristic fallback `amount > 1000 -> 1.0 else 0.05`
  *    (`main.py:102-104,120-121`)
  *  - StandardScaler + LogisticRegression probability
  *    (`services/training/app/training.py:47-52`, `main.py:107-118`)
  *    — a linear model, so inference is `sigmoid(w·z + b)`: plain
  *    arithmetic columns, exact, codegen'd, no model server in the
  *    hot path.
  *  - threshold classify `int(proba >= 0.5)` (`main.py:178,230`)
  */
object Scoring {

  /** Feature order the reference model was trained with
    * (`main.py:64`: FEATURE_ORDER). */
  val FeatureOrder: Seq[String] = Seq("amount", "num_items", "merchant_risk", "hour")

  val FeatureMapType: MapType = MapType(StringType, DoubleType)

  /** P1 — tolerant ordered projection: missing keys default to 0.0,
    * extra keys ignored, non-numeric values become 0.0 (documented
    * divergence: reference would crash on non-numeric, we degrade). */
  def featureVector(features: Column, order: Seq[String] = FeatureOrder): Column =
    array(order.map(k => featureAt(features, k)): _*)

  /** Single tolerant feature lookup: `features.get(k, 0.0)`. */
  def featureAt(features: Column, key: String): Column =
    coalesce(element_at(features, key).cast(DoubleType), lit(0.0))

  /** [[featureAt]] of a JSON feature payload —
    * `featureAt(from_json(json, FeatureMapType), key)`, bit for bit,
    * with the same P1 tolerance (absent key, non-numeric value, NULL or
    * malformed payload → 0.0).
    *
    * [[JsonNumberAt]] answers first, by scanning the bytes in place, on
    * the payloads it can decide: one flat object of at most
    * [[JsonNumberAt.MaxMembers]] distinct printable-ASCII keys, every
    * value an integer literal of at most [[JsonNumberAt.MaxDigits]]
    * digits, JSON whitespace only. That is the shape every producer
    * here writes (`{"k": 87}`). On anything else it is NULL and Spark's
    * own parse — the expression above — decides, so Spark keeps the
    * final say on every input the kernel does not decide. */
  def jsonFeatureAt(json: Column, key: String): Column =
    coalesce(jsonNumberAt(json, key), featureAt(from_json(json, FeatureMapType), key))

  /** The [[JsonNumberAt]] kernel alone: NULL where it does not decide. */
  def jsonNumberAt(json: Column, key: String): Column =
    Bridge.column(json)(JsonNumberAt(_, Literal(key)))

  /** P2 — merge a scalar column into the feature map
    * (`features["amount"] = amount`). The reference's dict assignment
    * overwrites an existing key; we drop any pre-existing "amount"
    * entry before concatenating so the result is correct under ANY
    * spark.sql.mapKeyDedupPolicy (the default EXCEPTION policy would
    * otherwise throw DUPLICATE_MAP_KEY on maps that already carry an
    * "amount" key). */
  def withAmount(features: Column, amount: Column): Column =
    map_concat(
      map_filter(features, (k, _) => k =!= lit("amount")),
      map(lit("amount"), amount.cast(DoubleType)))

  /** P4 / M9 — heuristic fallback score used when no model is loaded. */
  def heuristicProba(amount: Column, threshold: Double = 1000.0): Column =
    when(amount > threshold, lit(1.0)).otherwise(lit(0.05))

  /** Numerically plain sigmoid; inputs here are small logits so the
    * naive form is fine (matches sklearn's decision function). */
  def sigmoid(x: Column): Column = lit(1.0) / (lit(1.0) + exp(-x))

  /** M1+M3 closed form — z-score each feature with trained means/stds,
    * then sigmoid of the linear form. All literal arithmetic: exact,
    * codegen-friendly, broadcast-free.
    */
  def logisticProba(features: Seq[Column], means: Seq[Double], stds: Seq[Double],
                    coef: Seq[Double], intercept: Double): Column = {
    require(features.size == coef.size && coef.size == means.size && means.size == stds.size)
    val logit = logitOf(features, means, stds, coef, intercept)
    sigmoid(logit)
  }

  /** The raw linear form; exposed so thresholding can compare
    * `logit >= 0` (exact) instead of `sigmoid(logit) >= 0.5`
    * (equivalent mathematically, but immune to libm ulp skew). */
  def logitOf(features: Seq[Column], means: Seq[Double], stds: Seq[Double],
              coef: Seq[Double], intercept: Double): Column =
    features.zip(means).zip(stds).zip(coef)
      .map { case (((f, m), s), w) => lit(w) * ((f - lit(m)) / lit(s)) }
      .reduce(_ + _) + lit(intercept)

  /** P3 — threshold classification `int(proba >= t)`. */
  def classify(proba: Column, threshold: Double = 0.5): Column =
    (proba >= lit(threshold)).cast("int")
}
