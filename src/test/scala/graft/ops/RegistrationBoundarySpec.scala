package graft.ops

import graft.SparkSpec
import graft.expressions.GraftFunctions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The graft_* functions are registered at the engine boundary only:
  * `Tables.t` and the public DataFrame-taking library entries. An
  * embedder's session has neither `GraftExtensions` nor a prior `t` call,
  * so every public entry that reaches a graft_* kernel must register
  * itself. Each test runs an entry on a session whose registry holds no
  * graft_* function (a fresh session of the shared context, so the shared
  * session keeps its own registry).
  */
class RegistrationBoundarySpec extends AnyFunSuite with SparkSpec {

  private def dropAll(s: SparkSession): Unit =
    GraftFunctions.all.foreach { case (id, _, _) => s.sessionState.functionRegistry.dropFunction(id) }

  private def bare(): SparkSession = {
    val s = spark.newSession()
    dropAll(s)
    assert(!s.catalog.functionExists("graft_minhash16"))
    s
  }

  private val textA = (1 to 30).map(i => s"alpha$i").mkString(" ")
  private val textB = (1 to 30).map(i => s"beta$i").mkString(" ")

  private def docs(s: SparkSession) = {
    import s.implicits._
    Seq(1L -> textA, 2L -> textB, 3L -> textA).toDF("doc_id", "text")
  }

  test("MinHashIncremental.signatures registers its kernels") {
    val s = bare()
    assert(MinHashIncremental.signatures(docs(s)).count() == 6) // 2 bands per doc
  }

  test("TextOps.ngramNearDups registers its kernels") {
    val s = bare()
    val got = TextOps.ngramNearDups(docs(s)).pairs
      .filter("is_neardup").select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 3L)))
  }

  test("KMeans.fit and KMeans.assign register their kernels") {
    val s = bare()
    import s.implicits._
    val vecs = (0 until 8).map(i => (i.toLong, Array(i.toLong * 10, 1L))).toDF("vec_id", "v")
    val m = KMeans.fit(vecs, k = 2, maxRounds = 3)
    dropAll(s)
    assert(KMeans.assign(vecs, m.centroids).count() == 8)
  }

  test("IvfIncremental.recluster registers its kernels") {
    val s = spark.newSession()
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ivf-reg").toString
    val vecs = (0 until 16).map(i => (i.toLong, (0 until 4).map(d => if (d == i % 4) 1.0f else 0.1f)))
      .toDF("vec_id", "embedding")
    IvfIncremental.bootstrap(s, vecs, nCells = 4, dir)
    dropAll(s)
    IvfIncremental.recluster(s, dir, nCells = 4, maxRounds = 3)
    assert(s.read.parquet(s"$dir/vectors").count() == 16)
  }
}
