package graft

import graft.sources.GraftTableResolveRule

class GraftSessionSpec extends SparkSpec {

  test("GraftSession registers GraftExtensions exactly once") {
    // a fresh session state over the shared context: it carries the
    // session's extensions but none of the functions other suites add
    // through GraftExtensions.register
    val fresh = GraftSession.local(4).newSession()
    val rules = fresh.sessionState.analyzer.postHocResolutionRules
    assert(rules.count(_.isInstanceOf[GraftTableResolveRule]) === 1)
    assert(fresh.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))")
      .first().getDouble(0) === 11.0)
  }
}
