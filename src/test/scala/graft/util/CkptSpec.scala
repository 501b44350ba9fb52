package graft.util

import org.scalatest.funsuite.AnyFunSuite

class CkptSpec extends AnyFunSuite {

  test("checkpoint storage level names are validated before use") {
    assert(Ckpt.validLevel("MEMORY_AND_DISK_SER") == "MEMORY_AND_DISK_SER")
    val e = intercept[IllegalArgumentException](
      Ckpt.validLevel("MEMORY_AND_DSK"))
    assert(e.getMessage.contains("SPARK_GRAFT_CKPT_LEVEL=MEMORY_AND_DSK"),
      e.getMessage)
  }
}
