package graft.functions

import graft.SparkSuite

/** Compaction sizing: the byte-derived file count every rewrite
  * ([[TableLog.compact]]) plans from.
  */
class CompactionSpec extends SparkSuite {

  test("targetFiles derivation and overflow guard") {
    assert(Compaction.targetFiles(1, 128) == 1)
    assert(Compaction.targetFiles(129, 128) == 2)
    assert(Compaction.targetFiles(128L * 100, 128) == 100)
    intercept[IllegalArgumentException](Compaction.targetFiles(10, 0))
    // overflow guard: a multi-EB byte count at 1 byte/file must fail
    // loudly rather than wrap to a negative repartition argument
    val ov = intercept[IllegalArgumentException](Compaction.targetFiles(Long.MaxValue, 1))
    assert(ov.getMessage.contains("overflow"), ov.getMessage)
  }
}
