package graft.crypto

import org.apache.spark.internal.Logging
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/** Column-level encryption over DataFrames — the Spark-native form of the
  * reference's `encrypt_data` (/root/reference/pipeline.py:76-84): for each
  * named column present in the frame, every cell is stringified and replaced
  * by its Fernet token; missing columns log a warning and are skipped.
  *
  * The encrypt UDF is marked nondeterministic (random IV per call) so
  * Catalyst never collapses, reorders, or re-executes it for free.
  */
object CryptoFunctions extends Logging {

  // One codec per key per executor JVM. Each codec keeps one keyed
  // Cipher/Mac/DRBG state per thread, so this cache is what makes that
  // state live across rows: a codec built per row would re-key per row.
  @transient private lazy val codecs =
    new java.util.concurrent.ConcurrentHashMap[String, Fernet]()

  private def codec(key: String): Fernet =
    codecs.computeIfAbsent(key, k => new Fernet(k))

  def encryptUdf(key: String): UserDefinedFunction =
    udf((s: String) => if (s == null) null else codec(key).encryptString(s))
      .asNondeterministic()

  def decryptUdf(key: String): UserDefinedFunction =
    udf((t: String) => if (t == null) null else codec(key).decryptString(t))

  /** Per-row-key variants (crypto-shredding / GDPR-delete support): the key
    * travels as a COLUMN — one key per data subject, held in a small key
    * table — so destroying a subject's key row renders every token ever
    * written for that subject permanently undecryptable. Deletion by key
    * destruction: no 100 TB corpus rewrite, just a one-row delete in the
    * key table. A null key (post-shred lookup miss) or a MAC failure
    * (wrong/rotated key) decrypts to null rather than throwing — the
    * caller counts nulls, it doesn't crash the scan.
    */
  def encryptWithKeyUdf: UserDefinedFunction =
    udf((key: String, s: String) =>
      if (key == null || s == null) null else codec(key).encryptString(s))
      .asNondeterministic()

  def decryptWithKeyUdf: UserDefinedFunction =
    udf((key: String, t: String) =>
      if (key == null || t == null) null
      else scala.util.Try(codec(key).decryptString(t)).getOrElse(null))

  /** Encrypt `sensitiveColumns ∩ df.columns`, each cell cast to string first
    * (the reference stringifies every cell, pipeline.py:81); warn-and-skip on
    * columns not present.
    */
  def encryptColumns(df: DataFrame, sensitiveColumns: Seq[String], key: String): DataFrame = {
    val present = df.columns.toSet
    sensitiveColumns.foldLeft(df) { (acc, c) =>
      if (present.contains(c)) {
        logInfo(s"Encrypting column: $c")
        acc.withColumn(c, encryptUdf(key)(col(c).cast("string")))
      } else {
        logWarning(s"Column $c not found in data.")
        acc
      }
    }
  }

  def decryptColumns(df: DataFrame, columns: Seq[String], key: String): DataFrame = {
    val present = df.columns.toSet
    columns.filter(present.contains).foldLeft(df) { (acc, c) =>
      acc.withColumn(c, decryptUdf(key)(col(c)))
    }
  }
}
