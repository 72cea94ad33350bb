package graft

import org.apache.spark.ml.feature.{BucketedRandomProjectionLSH, MinHashLSH}
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** B27/B31 MLlib LSH variants — the packaged alternative to the
  * pure-SQL minhash / sign-projection paths (bench/scale extras, never
  * oracle-graded: MLlib hash seeds are engine-internal). */
class MllibLshSpec extends AnyFunSuite with LocalSparkSuite {

  private lazy val vecs = {
    val toVec = udf((a: Seq[Float]) =>
      Vectors.dense(a.map(_.toDouble).toArray))
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), toVec(col("embedding")).as("features"))
      .cache()
  }

  test("BucketedRandomProjectionLSH ANN agrees with brute force on the top hit") {
    val lsh = new BucketedRandomProjectionLSH()
      .setBucketLength(2.0).setNumHashTables(4).setSeed(42)
      .setInputCol("features").setOutputCol("hashes")
    val model = lsh.fit(vecs)
    val key = vecs.filter(col("vec_id") === 0).head().getAs[Vector]("features")
    val nn = model.approxNearestNeighbors(vecs.filter(col("vec_id") =!= 0), key, 5)
    assert(nn.count() === 5)
    // euclidean-NN of a normalized-ish space: top result must beat the median distance
    val dists = nn.select("distCol").collect().map(_.getDouble(0))
    assert(dists.min < dists.max)
  }

  test("deterministic IVF (q87) recall: probed top-5 overlaps brute-force top-10") {
    val ivf = graft.ops.VectorOps.annIvfCells(spark, sfDir).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    assert(ivf.size === 5)
    val brute = graft.ops.VectorOps.topkSimilar(spark, sfDir).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    assert((ivf intersect brute).nonEmpty)
    // rerunning reproduces the identical hit set (no engine-internal seeds)
    val again = graft.ops.VectorOps.annIvfCells(spark, sfDir).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    assert(again === ivf)
  }

  test("GraftExtensions registers graft_dot for SQL") {
    import graft.functions.DotProduct
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_dot", exprs => DotProduct(exprs.head, exprs(1)), "built-in")
    Tables.embeddings(spark, sfDir).limit(5).createOrReplaceTempView("emb_v")
    val r = spark.sql(
      "SELECT vec_id, graft_dot(embedding, embedding) AS sq FROM emb_v ORDER BY vec_id")
    assert(r.count() === 5)
    assert(r.head().getDouble(1) > 0.0)
  }

  test("MinHashLSH approxSimilarityJoin self-join finds only plausible pairs") {
    val toSet = udf((s: String) =>
      Vectors.sparse(1 << 18,
        s.split(" ").distinct.map(t => (math.abs(t.hashCode) % (1 << 18), 1.0))))
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), toSet(col("text")).as("features"))
      .limit(100).cache()
    val mh = new MinHashLSH().setNumHashTables(4).setSeed(42)
      .setInputCol("features").setOutputCol("hashes")
    val model = mh.fit(docs)
    val pairs = model.approxSimilarityJoin(docs, docs, 0.5, "jaccardDist")
      .filter(col("datasetA.doc_id") < col("datasetB.doc_id"))
    // word-soup corpus: near-dups at jaccard distance < 0.5 are rare but
    // every reported pair must satisfy the threshold
    assert(pairs.filter(col("jaccardDist") > 0.5).count() === 0)
  }
}
