package graft.ml

import java.nio.file.{Files, NoSuchFileException}

import graft.sources.VersionedStore
import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, StructType}

/** Filesystem model registry — the engine's stand-in for the
  * reference's MLflow registry (`services/training/app/training.py:93-110`):
  * a registered model version is a [[VersionedStore]] version holding
  * MLlib's `PipelineModel.save` output and, when given, its input
  * signature as `signature.json` (MLflow's `infer_signature`,
  * `training.py:75`); `promote` is the transition to stage
  * "Production", and `productionVersion` + `versionDir` are the
  * service's stage resolution, run per batch instead of every 60 s
  * (`services/fraud_service/app/main.py:73-97,183-189`). The
  * reference's version-vs-run-id confusion and never-set
  * `_model_version` (`main.py:77-83`) are implemented as intended,
  * not as shipped.
  */
final class ModelRegistry(root: String) extends VersionedStore[PipelineModel](root) {

  /** Save a model (and its signature) as the next version; returns
    * the version, NOT yet promoted. */
  def register(model: PipelineModel, name: String,
               signature: Option[StructType] = None): Int =
    stageVersion(name) { dir =>
      model.write.overwrite().save(dir.toString)
      signature.foreach(s => Files.writeString(dir.resolve("signature.json"), s.json))
    }

  def signature(name: String, version: Int): Option[StructType] =
    try Some(DataType.fromJson(Files.readString(versionPath(name, version).resolve("signature.json")))
      .asInstanceOf[StructType])
    catch { case _: NoSuchFileException => None }

  /** The directory `register` saved `version` of `name` to. */
  def versionDir(name: String, version: Int): String = versionPath(name, version).toString

  def load(spark: SparkSession, name: String, version: Int): PipelineModel =
    PipelineModel.load(versionDir(name, version))
}
