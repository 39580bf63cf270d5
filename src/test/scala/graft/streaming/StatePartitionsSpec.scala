package graft.streaming

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** The r15 scale-adaptive state-partition rule: ⌊source bytes /
  * 64 MB⌋ + 2 state-store instances, cap 200. The rule
  * must be monotone in input size and never collapse below the floor —
  * it replaces a fixed count of 8 that over-paid store open/commit at
  * bench scale and under-parallelized at 100 TB. There is deliberately
  * NO per-operator discount for multi-store operators (the measured
  * 100x regression of the storeWeight divisor: it only changes the
  * answer above the floor, i.e. only at scale, where it serialized
  * the interval join — 90.8 s at 2 partitions vs 38.3 s history at 4).
  */
class StatePartitionsSpec extends AnyFunSuite {

  /** A table dir whose single file has the given LOGICAL size (sparse
    * — only the length matters to the sizing walk).
    */
  private def dirWithBytes(n: Long): String = {
    val d = Files.createTempDirectory("graft_stateparts")
    val t = d.resolve("t.parquet")
    Files.createDirectories(t)
    val raf = new java.io.RandomAccessFile(t.resolve("part-0.bin").toFile, "rw")
    try raf.setLength(n) finally raf.close()
    d.toString
  }

  test("tiny input floors at 2 partitions") {
    assert(StreamQueries.statePartitions(dirWithBytes(2L << 20), "t") == 2)
  }

  test("~64 MB per store, monotone in size") {
    val p640mb = StreamQueries.statePartitions(dirWithBytes(640L << 20), "t")
    assert(p640mb == 12, s"640MB -> 640/64 + 2 = 12 stores, got $p640mb")
    val p64mb = StreamQueries.statePartitions(dirWithBytes(64L << 20), "t")
    assert(p64mb < p640mb)
  }

  test("a 100x-bench-scale input (200 MB) gets real parallelism, not the floor") {
    // the regression the storeWeight divisor caused: 200 MB of events
    // at the 100x probe must yield >= 4 state partitions
    val p = StreamQueries.statePartitions(dirWithBytes(200L << 20), "t")
    assert(p >= 4, s"200MB -> >= 4 partitions, got $p")
  }

  test("missing table falls back to the floor, not an exception") {
    val d = Files.createTempDirectory("graft_stateparts_none").toString
    assert(StreamQueries.statePartitions(d, "absent") == 2)
  }

  test("cap holds at very large inputs (sparse 100 GB file)") {
    assert(StreamQueries.statePartitions(dirWithBytes(100L << 30), "t") == 200)
  }
}
