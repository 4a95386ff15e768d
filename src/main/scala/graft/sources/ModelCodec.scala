package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.DataType

/** One model-artifact family on top of the [[ModelStore]] version
  * protocol. A family states only what is its own:
  *
  *  - [[family]], which names its artifact base ([[ModelStore.modelDir]]);
  *  - [[partDir]], the parquet directory of the artifact itself beside
  *    the one-row `manifest/`;
  *  - [[rows]], the artifact as a DataFrame, and [[decode]], its inverse
  *    over the collected part rows and the stored manifest row;
  *  - [[manifest]], the one-row manifest: shape, the hyperparameters a
  *    reader must agree on, and a sha ([[sha256Hex]]) over a canonical,
  *    index-keyed serialization (doubles as `Double.toString`, the
  *    shortest string that parses back to the same bits).
  *
  * Validity is one rule for every family: a version is valid when its
  * stored manifest row equals, field by field and by name (type and
  * value), the manifest recomputed from the decoded artifact. A flipped
  * coefficient changes the sha, a dropped row the shape, and a reader
  * built with other hyperparameters disagrees on their fields. A decode
  * that throws marks the version invalid inside the store's walk.
  *
  * Readers take the newest committed valid version, so a torn or
  * corrupted newer write is skipped and the previous version keeps
  * serving. Each probed version is read once; the winner's decoded
  * value is returned without a second read. */
trait ModelCodec[T] {

  def family: String

  def partDir: String

  def rows(s: SparkSession, t: T): DataFrame

  def decode(parts: Array[Row], manifest: Row): T

  def manifest(s: SparkSession, t: T): DataFrame

  def modelDir(dir: String): String = ModelStore.modelDir(family, dir)

  /** Write one artifact into a version directory: the part as a single
    * file, then the manifest. */
  def writeModel(s: SparkSession, path: String, t: T): Unit = {
    rows(s, t).repartition(1)
      .write.mode("overwrite").parquet(s"$path/$partDir")
    manifest(s, t).write.mode("overwrite").parquet(s"$path/manifest")
  }

  /** Reload one version and check it. Returns (artifact, valid). */
  def readModel(s: SparkSession, path: String): (T, Boolean) = {
    val stored = s.read.parquet(s"$path/manifest").head()
    val t = decode(s.read.parquet(s"$path/$partDir").collect(), stored)
    (t, fields(stored) == fields(manifest(s, t).head()))
  }

  private def fields(r: Row): Map[String, (DataType, Any)] =
    r.schema.fields.zipWithIndex
      .map { case (f, i) => f.name -> (f.dataType, r.get(i)) }.toMap

  /** Newest committed valid version that `accept` takes, if any. */
  def findLatestValid(s: SparkSession, base: String,
                      accept: T => Boolean): Option[(Int, T)] = {
    var hit: Option[T] = None
    ModelStore.latestValid(base, { p =>
      val (t, ok) = readModel(s, p)
      val valid = ok && accept(t)
      if (valid) hit = Some(t)
      valid
    }).map { case (v, _) => (v, hit.get) }
  }

  /** Newest committed valid version that `accept` takes; fails when
    * there is none. */
  def readLatestValid(s: SparkSession, base: String,
                      accept: T => Boolean = (_: T) => true): (Int, T) =
    findLatestValid(s, base, accept)
      .getOrElse(sys.error(s"no valid committed model under $base"))

  /** Write `t` as a new version under [[modelDir]] and reload the newest
    * valid one: the gates run their query from the returned value. */
  def roundtrip(s: SparkSession, dir: String, t: T,
                accept: T => Boolean = (_: T) => true): T = {
    val base = modelDir(dir)
    ModelStore.write(base, p => writeModel(s, p, t))
    readLatestValid(s, base, accept)._2
  }

  def sha256Hex(canon: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(canon.getBytes("UTF-8")).map(b => f"$b%02x").mkString
}
