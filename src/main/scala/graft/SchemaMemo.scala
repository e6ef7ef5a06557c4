package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** LRU memo of inferred parquet schemas. `spark.read.parquet` without a
  * schema runs a one-task schema-inference job; a reader that can key
  * everything deciding what inference returns reads with the memoized
  * schema instead. The caller picks the key: an immutable directory needs
  * only its path, a rewritable one also its listing and the inference
  * confs, so no key ever outlives what its schema was inferred from. */
private[graft] final class SchemaMemo(maxEntries: Int) {

  private val memo =
    new java.util.LinkedHashMap[String, StructType](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, StructType]): Boolean =
        size() > maxEntries
    }

  /** `spark.read.parquet(path)` with the schema memoized under `key`; the
    * first read pays the inference job and seeds the memo. */
  def read(spark: SparkSession, path: String, key: String): DataFrame =
    memo.synchronized(Option(memo.get(key))) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        memo.synchronized(memo.put(key, df.schema))
        df
    }

  def contains(key: String): Boolean = memo.synchronized(memo.containsKey(key))
}
