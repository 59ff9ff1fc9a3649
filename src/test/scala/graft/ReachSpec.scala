package graft

import org.scalatest.funsuite.AnyFunSuite

/** The reachability gate: `python3 dev/reach.py --check`, run from the repo
  * root, must report no `src/main` member that no oracle query, SQL
  * function, perfbench call or main reaches, unless `dev/reach_keep.txt`
  * keeps it with a reason. A new second implementation, or code a change
  * leaves without callers, fails here until it is deleted or kept. */
class ReachSpec extends AnyFunSuite {

  test("every unreached src/main member is on the reach keep list") {
    val out = new StringBuilder
    val log = scala.sys.process.ProcessLogger(l => out ++= l + "\n", l => out ++= l + "\n")
    val code = scala.sys.process.Process(Seq("python3", "dev/reach.py", "--check")).!(log)
    assert(code == 0 && out.toString.contains("reach check: ok"), s"\n$out")
  }
}
