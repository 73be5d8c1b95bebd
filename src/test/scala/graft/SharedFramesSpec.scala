package graft

class SharedFramesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("releasing minhash frees its candidate frame with the pair frame; " +
      "release matches the exact tag, so a sibling entry survives") {
    val sc = spark.sparkContext
    SharedFrames.release(spark, "minhash")
    val base = sc.getPersistentRDDs.keySet
    SparkEntry.queries("d02")(spark, sf).collect()
    assert(sc.getPersistentRDDs.keySet.count(!base.contains(_)) == 2,
      "the minhash entry should hold the candidate and the pair checkpoints")
    val built = SharedFrames.shared(spark, sf, "minhash")(_ => sys.error("must reuse the entry"))
    val sibling = SharedFrames.shared(spark, sf, "minhashX")(_ => spark.range(1).toDF("x"))
    SharedFrames.release(spark, "minhash")
    assert(sc.getPersistentRDDs.keySet.count(!base.contains(_)) == 1,
      "only the sibling's checkpoint may outlive the minhash release")
    assert(SharedFrames.shared(spark, sf, "minhash")(_ => spark.range(1).toDF("x")) ne built,
      "the released entry must be rebuilt")
    SharedFrames.release(spark, "minhash")
    assert(SharedFrames.shared(spark, sf, "minhashX")(_ => spark.range(2).toDF("x")) eq sibling,
      "an entry whose tag merely starts with the released one must survive")
    SharedFrames.release(spark, "minhashX")
    assert(sc.getPersistentRDDs.keySet.subsetOf(base))
  }

  test("checkpointDirMismatch: warns exactly when the live checkpoint dir " +
      "is not under the configured root") {
    val conf = new org.apache.hadoop.conf.Configuration()
    // setCheckpointDir appends a per-context UUID segment under the root
    val live = Some("file:/tmp/ck-root/9a1b2c3d-uuid")
    assert(SharedFrames.checkpointDirMismatch(live, "/tmp/ck-root", conf).isEmpty,
      "conf matching the live root must not warn")
    val warn = SharedFrames.checkpointDirMismatch(live, "/tmp/other-root", conf)
    assert(warn.exists(_.contains("/tmp/ck-root/9a1b2c3d-uuid")),
      s"mismatched conf must warn with the live dir: $warn")
    assert(SharedFrames.checkpointDirMismatch(None, "/tmp/x", conf).isEmpty)
  }
}
