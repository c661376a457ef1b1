package org.apache.spark.ml

import org.apache.spark.ml.param.Params
import org.apache.spark.ml.util.{DefaultParamsReader, DefaultParamsWriter}
import org.apache.spark.sql.SparkSession

/**
 * Bridge into Spark's `private[ml]` model-metadata helpers, so custom
 * models persist their params in the same `metadata/` format as every
 * `DefaultParamsWritable` stage (class name, uid, set and default params).
 */
object GraftMlBridge {
  def saveMetadata(instance: Params, path: String, spark: SparkSession): Unit =
    DefaultParamsWriter.saveMetadata(instance, path, spark)

  /** Loads the metadata under `path`, failing unless it was written by
    * `T`; builds the instance from the stored uid and restores its params. */
  def loadWithMetadata[T <: Params](path: String, spark: SparkSession,
      cls: Class[T])(make: String => T): T = {
    val metadata = DefaultParamsReader.loadMetadata(path, spark, cls.getName)
    val instance = make(metadata.uid)
    metadata.getAndSetParams(instance)
    instance
  }
}
