package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.sources.SharedTable

/** The shared-table bucket sizing rule (VERDICT r15 item 7): local
  * SFs keep the r15-comparable 16-bucket layout, large corpora scale
  * one bucket per 256 MB rounded up to a power of two, capped. */
class ShardCountSpec extends AnyFunSuite with Matchers {
  private val MB = 1L << 20
  private val GB = 1L << 30
  private val TB = 1L << 40

  test("local scale factors stay on the 16-bucket floor") {
    SharedTable.shardCountForBytes(0L) shouldBe 16
    SharedTable.shardCountForBytes(17 * MB) shouldBe 16 // sf0.1
    SharedTable.shardCountForBytes(2 * GB) shouldBe 16 // sf10x
    SharedTable.shardCountForBytes(16 * 256 * MB) shouldBe 16 // exact floor
  }

  test("bucket count scales with corpus bytes, power-of-two") {
    // 17 * 256 MB → ceil 17 → next pow2 = 32
    SharedTable.shardCountForBytes(17 * 256 * MB) shouldBe 32
    SharedTable.shardCountForBytes(100 * GB) shouldBe 512 // 400 buckets → 512
    SharedTable.shardCountForBytes(1 * TB) shouldBe 4096
  }

  test("cap holds at warehouse scale") {
    SharedTable.shardCountForBytes(100 * TB) shouldBe 4096
    SharedTable.shardCountForBytes(Long.MaxValue / 2) shouldBe 4096
  }
}
