package graft.tools

import scala.sys.process._

import org.scalatest.funsuite.AnyFunSuite

/** Every public object member in graft.{ext,operators,functions,graph,
  * sources,plans} has a caller in `src/main` or `perfbench/harness`, or an
  * allowlist entry with its reason: `tools/check_reachability.py` exits 0
  * on the tree. A member that only a test reaches fails here. */
class ReachabilitySpec extends AnyFunSuite {

  test("tools/check_reachability.py finds no library member without a product caller") {
    val out = new StringBuilder
    val log = ProcessLogger(l => out.append(l).append('\n'), l => out.append(l).append('\n'))
    val code = Process(Seq("python3", "tools/check_reachability.py")).!(log)
    assert(code == 0, s"check_reachability.py exited $code:\n$out")
    assert(out.toString.contains("0 unreached member(s)"), out.toString)
  }
}
