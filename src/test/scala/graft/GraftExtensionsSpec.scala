package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.graft.Injected

class GraftExtensionsSpec extends SparkTestBase {

  test("graft.GraftExtensions loads by class name and injects the spatial rules and functions") {
    // what spark.sql.extensions=graft.GraftExtensions does: load the class
    // by name, then apply it to the session's extensions
    val ext = new SparkSessionExtensions
    Class.forName("graft.GraftExtensions").getDeclaredConstructor().newInstance()
      .asInstanceOf[SparkSessionExtensions => Unit](ext)
    val rules = Injected.optimizerRules(ext, spark)
    assert(rules.exists(_.isInstanceOf[graft.plans.SpatialJoinRewrite]), rules)
    assert(rules.exists(_.isInstanceOf[graft.plans.SpatialFilterPushdown]), rules)
    assert(Injected.hasFunction(ext, "st_dwithin"))
    assert(!Injected.hasFunction(new SparkSessionExtensions, "st_dwithin"))
  }
}
