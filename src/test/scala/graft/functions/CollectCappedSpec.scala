package graft.functions

import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.scalatest.funsuite.AnyFunSuite

/** `collect_members_capped`'s output order and buffer serialization,
  * driven through the aggregate's buffer API directly (no session):
  * the order must be total — a doc_id repeating with different n_sh
  * (`TextOps.sharedSpanRuns` collects (doc_id, pos)) must not come out
  * in merge order — and a buffer too large for one byte array must
  * fail loudly instead of wrapping its size.
  */
class CollectCappedSpec extends AnyFunSuite {

  private val agg = CollectMembersCapped(Literal(0L), Literal(0), cap = 16L)

  private def members(pairs: (Long, Int)*): CappedMembersBuffer = {
    val b = agg.createAggregationBuffer()
    pairs.foreach { case (id, n) => b.add(id, n) }
    b
  }

  private def evalPairs(b: CappedMembersBuffer): Seq[(Long, Int)] =
    agg.eval(b).asInstanceOf[GenericArrayData].array.toSeq.map { r =>
      val row = r.asInstanceOf[GenericInternalRow]
      row.getLong(0) -> row.getInt(1)
    }

  test("equal doc_ids come out by n_sh whatever the merge order") {
    def merged(parts: Seq[(Long, Int)]*): Seq[(Long, Int)] = {
      val acc = agg.createAggregationBuffer()
      parts.foreach(p => agg.merge(acc, members(p: _*)))
      evalPairs(acc)
    }
    val a = Seq(7L -> 30, 2L -> 5)
    val b = Seq(7L -> 10, 7L -> 20)
    val c = Seq(1L -> 4, 7L -> 15)
    val want = Seq(1L -> 4, 2L -> 5, 7L -> 10, 7L -> 15, 7L -> 20, 7L -> 30)
    for (order <- Seq(a, b, c).permutations)
      assert(merged(order: _*) == want, s"merge order $order")
  }

  test("serialize round-trips, and fails loudly past the array limit") {
    val b = members(5L -> 1, 3L -> 2)
    val back = agg.deserialize(agg.serialize(b))
    assert(evalPairs(back) == Seq(3L -> 2, 5L -> 1))
    // 5 + 12 * 200M bytes overflows Int: the size check must fire
    // before any member array is touched
    val huge = new CappedMembersBuffer(Int.MaxValue - 16)
    huge.n = 200000000
    val e = intercept[IllegalStateException](agg.serialize(huge))
    assert(e.getMessage.contains("200000000 members"))
  }
}
