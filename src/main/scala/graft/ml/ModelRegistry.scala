package graft.ml

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.SparkSession

/** Filesystem model registry — the engine's stand-in for the
  * reference's MLflow registry + stage promotion
  * (`services/training/app/training.py:93-110`):
  *
  *   <root>/<name>/v<N>/        MLlib PipelineModel.save
  *   <root>/<name>/PRODUCTION   pointer file, atomically replaced
  *
  * The reference resolves "Production" stage at load and hot-reloads
  * every 60 s (`services/fraud_service/app/main.py:73-97,183-189`);
  * here resolution is ONE pointer read ([[productionVersion]] +
  * [[versionDir]]), cheap enough to run per micro-batch (M8), and the
  * scoring path loads each version's `PipelineModel` once
  * ([[FraudModel.scoreBatch]]). Versions are WRITE-ONCE: `register`
  * always writes a fresh `v<N>`, and nothing rewrites a promoted one
  * in place. The reference's version-vs-run-id confusion and
  * never-set `_model_version` (`main.py:77-83`) are implemented as
  * intended, not as shipped.
  */
final class ModelRegistry(root: String) extends Serializable {

  private def nameDir(name: String): Path = Paths.get(root, name)

  def versions(name: String): Seq[Int] = {
    val d = nameDir(name)
    if (!Files.isDirectory(d)) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.list(d)) { stream =>
        stream.iterator().asScala
          .map(_.getFileName.toString)
          .collect { case s if s.startsWith("v") && s.drop(1).forall(_.isDigit) => s.drop(1).toInt }
          .toSeq.sorted
      }
    }
  }

  /** O3: latest = max numeric version. */
  def latestVersion(name: String): Option[Int] = versions(name).lastOption

  /** Save a model as the next version; returns the version number.
    * M6: the input signature (feature schema JSON) is persisted next
    * to the model, the analog of MLflow's `infer_signature`
    * (`training.py:75`). */
  def register(model: PipelineModel, name: String,
               signature: Option[org.apache.spark.sql.types.StructType] = None): Int = {
    val v = latestVersion(name).getOrElse(0) + 1
    val dir = nameDir(name).resolve(s"v$v")
    model.write.overwrite().save(dir.toString)
    signature.foreach(s => Files.writeString(dir.resolve("signature.json"), s.json))
    v
  }

  def signature(name: String, version: Int): Option[org.apache.spark.sql.types.StructType] = {
    val p = nameDir(name).resolve(s"v$version").resolve("signature.json")
    if (Files.exists(p))
      Some(org.apache.spark.sql.types.DataType.fromJson(Files.readString(p))
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    else None
  }

  /** Atomic stage promotion: write-then-move pointer replace. */
  def promote(name: String, version: Int): Unit = {
    require(versions(name).contains(version), s"unknown version v$version of $name")
    val d = nameDir(name)
    val tmp = Files.createTempFile(d, ".PRODUCTION", ".tmp")
    Files.writeString(tmp, version.toString)
    Files.move(tmp, d.resolve("PRODUCTION"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** One read of the PRODUCTION pointer; None when it is absent,
    * including when it disappears under the read. */
  def productionVersion(name: String): Option[Int] =
    try Some(Files.readString(nameDir(name).resolve("PRODUCTION")).trim.toInt)
    catch { case _: java.nio.file.NoSuchFileException => None }

  /** The directory `register` saved `version` of `name` to. */
  def versionDir(name: String, version: Int): String =
    nameDir(name).resolve(s"v$version").toString

  /** Resolve + load the Production model; None → caller falls back to
    * the heuristic score (M9). */
  def loadProduction(spark: SparkSession, name: String): Option[PipelineModel] =
    productionVersion(name).map(v => PipelineModel.load(versionDir(name, v)))
}
