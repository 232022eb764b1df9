package graft

/** The build-once memo ([[Tables.once]] / [[Tables.artifact]]) behind
  * every shared artifact the registry's index read faces serve: one
  * build per artifact, the dataset in both the key and the physical
  * name, the key on the artifact rather than on the prefix it returns,
  * and no Spark job on a hit.
  */
class ArtifactMemoSpec extends SparkSpec {

  test("one artifact key builds once and returns one dataset-folded prefix") {
    var builds = 0
    val first = Tables.artifact(spark, "memospec", "once", Sf)(_ => builds += 1)
    val second = Tables.artifact(spark, "memospec", "once", Sf)(_ => builds += 1)
    assert(builds == 1)
    assert(first == second)
    assert(first.endsWith(s".once_${Tables.datasetKey(Sf)}"))
  }

  test("two datasets get two prefixes, each built") {
    val built = scala.collection.mutable.ArrayBuffer.empty[String]
    val a = Tables.artifact(spark, "memospec", "twods", "/data/a")(built += _)
    val b = Tables.artifact(spark, "memospec", "twods", "/data/b")(built += _)
    assert(a != b)
    assert(built == Seq(a, b))
  }

  test("two artifacts that return the same prefix both build (the vector/PQ shape)") {
    var vecBuilds = 0
    var pqBuilds = 0
    def vec() = Tables.artifact(spark, "memospec", "vec", Sf)(_ => vecBuilds += 1)
    def pq() = Tables.once(spark, ("memospec_pq", Sf)) { val p = vec(); pqBuilds += 1; p }
    assert(vec() == pq())
    assert(pq() == vec())
    assert(vecBuilds == 1 && pqBuilds == 1)
    // The registry's own pair, on a dataset path no other suite has
    // memoized: the vector index first, then the PQ layer under the same
    // prefix must still write its code table.
    val d = s"$Sf/."
    val pre = SimilarityQueries.fullVectorIndex(spark, d)
    assert(!spark.catalog.tableExists(s"${pre}_codes"))
    assert(SimilarityQueries.fullPqIndex(spark, d) == pre)
    assert(spark.catalog.tableExists(s"${pre}_codes"), "the PQ layer was never written")
  }

  test("a build that throws leaves its key unbuilt") {
    intercept[IllegalStateException] {
      Tables.once[Int](spark, "memospec_throws")(throw new IllegalStateException("boom"))
    }
    assert(Tables.once(spark, "memospec_throws")(7) == 7)
  }

  test("after prepareSharedArtifacts, a shared index read runs no Spark job") {
    DedupQueries.prepareSharedArtifacts(spark, Sf)
    val pre = DedupQueries.fullLshIndex(spark, Sf)
    assert(spark.catalog.tableExists(s"${pre}_bands"))
    assert(jobsOf(DedupQueries.fullLshIndex(spark, Sf)) == 0)
  }
}
