package graft

import graft.functions.GraftFunctions
import graft.plans.AsofJoinStrategy

/** `Graft.install` on a session that lacks the engine: a fork of the shared
  * session with every native function dropped from its registry. */
class GraftInstallSpec extends SparkSpec {

  test("Graft.query installs the engine on a bare session, idempotently and locally") {
    val ids = GraftFunctions.functions.map(_._1)
    val sharedStrategies = spark.experimental.extraStrategies
    val forked = spark.newSession()
    val registry = forked.sessionState.functionRegistry
    ids.foreach(registry.dropFunction)
    intercept[org.apache.spark.sql.AnalysisException](forked.sql("SELECT md5_long('a')").collect())

    Graft.query(forked, sfDir, "llm_dedup_minhash").write.format("noop").mode("overwrite").save()
    assert(ids.forall(registry.functionExists))
    Graft.install(forked)
    Graft.install(forked)
    assert(forked.experimental.extraStrategies.count(_ == AsofJoinStrategy) === 1)

    assert(ids.forall(spark.sessionState.functionRegistry.functionExists))
    assert(spark.experimental.extraStrategies === sharedStrategies)
  }
}
