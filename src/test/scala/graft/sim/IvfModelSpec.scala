package graft.sim

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Model-artifact round-trip checks: the reloaded quantizer must be
  * bit-identical to the trained one, the replayed query must equal the
  * in-session `ivf_topk` exactly, and one corrupted coefficient
  * anywhere in the artifact must red the manifest check. */
class IvfModelSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("write -> reload is bit-exact and the manifest certifies it") {
    val (_, trained) = Ivf.assignments(spark, dir)
    val path = "target/ivf_model_spec/clean"
    IvfModel.writeModel(spark, path, trained)
    val (reloaded, ok) = IvfModel.readModel(spark, path)
    assert(ok, "manifest must verify a clean artifact")
    val mf = spark.read.parquet(s"$path/manifest").head()
    val (nLists, dim) = (mf.getAs[Int]("n_lists"), mf.getAs[Int]("dim"))
    assert(nLists == trained.length && dim == trained(0).length)
    assert(reloaded.length == trained.length)
    trained.indices.foreach { j =>
      assert(java.util.Arrays.equals(reloaded(j), trained(j)),
        s"centroid $j must reload bit-exactly")
    }
  }

  test("query from the reloaded model == in-session ivf_topk") {
    val fromModel = IvfModel.ivfModelRoundtrip(spark, dir)
    assert(fromModel.select(min(col("manifest_ok"))).head().getBoolean(0))
    val got = fromModel.select("vec_id", "label", "cell", "cosine")
      .collect().map(_.toSeq).toSeq
    val expected = Ivf.ivfTopk(spark, dir).collect().map(_.toSeq).toSeq
    assert(got == expected, "reloaded-model results must be identical")
  }

  test("assign-delta: reloaded-model assignment == in-session memo on the batch") {
    val delta = IvfModel.ivfAssignDelta(spark, dir)
    assert(delta.select(min(col("manifest_ok"))).head().getBoolean(0))
    val got = delta.select("cell", "n_new").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // the memoized in-session assignment restricted to the batch slice
    // must produce the identical per-cell histogram
    val (assigned, _) = Ivf.assignments(spark, dir)
    val expected = assigned
      .filter(col("vec_id") % graft.dedup.SnapshotDedup.BatchMod === 0)
      .groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == expected, "artifact-path assignment must equal in-session")
    assert(got.values.sum > 0)
  }

  test("one corrupted coefficient reds the manifest check") {
    val (_, trained) = Ivf.assignments(spark, dir)
    val clean = "target/ivf_model_spec/clean2"
    IvfModel.writeModel(spark, clean, trained)
    // corrupt exactly one coefficient of one centroid, through the same
    // storage layer (read -> flip -> rewrite), manifest left untouched
    val corrupt = "target/ivf_model_spec/corrupt"
    val c = spark.read.parquet(s"$clean/centroids")
      .select(col("j"), transform(col("c"), (x, i) =>
        when(col("j") === 3 && i === 2, x + lit(1e-13)).otherwise(x))
        .as("c"))
    c.repartition(1).write.mode("overwrite").parquet(s"$corrupt/centroids")
    spark.read.parquet(s"$clean/manifest")
      .write.mode("overwrite").parquet(s"$corrupt/manifest")
    val (_, ok) = IvfModel.readModel(spark, corrupt)
    assert(!ok, "a one-ulp-scale corruption must red the checksum")
    // and a shape corruption (dropped cell) reds it too
    val short = "target/ivf_model_spec/short"
    spark.read.parquet(s"$clean/centroids").filter(col("j") =!= 0)
      .repartition(1).write.mode("overwrite").parquet(s"$short/centroids")
    spark.read.parquet(s"$clean/manifest")
      .write.mode("overwrite").parquet(s"$short/manifest")
    val (_, ok2) = IvfModel.readModel(spark, short)
    assert(!ok2, "a dropped cell must red the manifest")
  }
}
