package graft

import graft.tools.ClusterEvidence

/** `GraftSession.settings` is the one source of session config: the local
  * session runs with it, and the cluster harness adds only deployment keys. */
class SessionSettingsSpec extends SparkSpec {

  test("the shared 4-core session runs with every entry of settings(4)") {
    for ((k, v) <- GraftSession.settings(4))
      assert(spark.conf.get(k) === v, s"key $k")
  }

  test("ClusterEvidence's local-cluster conf contains every entry of settings(16)") {
    val conf = ClusterEvidence.conf("local-cluster[2,8,8192]").toMap
    for ((k, v) <- GraftSession.settings(16))
      assert(conf.get(k) === Some(v), s"key $k")
  }
}
