package graft

import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers
import graft.tools.QueryTimer

class QueryTimerSpec extends AnyFunSpec with Matchers {
  describe("QueryTimer.extraConf") {
    it("parses k=v segments and skips the empty one a trailing ';' leaves") {
      QueryTimer.extraConf("a.b=1;c=x=y;") shouldBe Seq("a.b" -> "1", "c" -> "x=y")
    }

    it("names the segment that is not k=v") {
      val e = the[IllegalArgumentException] thrownBy QueryTimer.extraConf("a=1;oops;b=2")
      e.getMessage should include ("'oops'")
      the[IllegalArgumentException] thrownBy QueryTimer.extraConf("=v") should
        have message "SPARK_GRAFT_EXTRA_CONF segment '=v' is not k=v"
    }
  }
}
