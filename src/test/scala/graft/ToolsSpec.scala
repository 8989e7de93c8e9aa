package graft

import scala.sys.process._

import org.scalatest.funsuite.AnyFunSuite

/** The Python tools' own tests, run from the repository root: the A/B
  * verdict (`ab_pairs.py`), the local oracle gate (`verify_local.py`) and
  * the sf1 scaler (`scale_testdata.py`). A non-zero exit fails the case.
  */
class ToolsSpec extends AnyFunSuite {

  Seq("test_ab_pairs", "test_verify_local", "test_scale_testdata")
    .foreach { name =>
      test(s"tools/$name.py exits 0") {
        val out = new StringBuilder
        val log = ProcessLogger(l => out ++= l += '\n', l => out ++= l += '\n')
        val rc = Process(Seq("python3", s"tools/$name.py"),
          new java.io.File(".")).!(log)
        assert(rc == 0, s"exit $rc:\n${out.toString.takeRight(4000)}")
      }
    }
}
