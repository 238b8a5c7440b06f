package graft

import org.scalatest.funsuite.AnyFunSuite

class CliSpec extends AnyFunSuite {

  test("kg-* bucket counts: positive integers parse, anything else is a usage error") {
    assert(Cli.parseBuckets("16") == Right(16))
    assert(Cli.parseBuckets("1") == Right(1))
    for (bad <- Seq("x", "", "0", "-4", "1.5", " 8", "99999999999")) {
      val got = Cli.parseBuckets(bad)
      assert(got.isLeft, s"'$bad' parsed as $got")
      assert(got.swap.exists(_.contains(s"'$bad'")),
        s"the error for '$bad' does not name it: $got")
    }
  }
}
