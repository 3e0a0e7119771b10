package graft.text

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.functions.CappedMembersBuffer

/** r18 memory hardening of the inverted-index pair core
  * (r17-verdict items 1+2): the df cap must bound the AGGREGATION
  * BUFFER, not just the output — a stop-shingle with df in the
  * billions at 100 TB must never accumulate its member list — and
  * pair emission must stream, never materialize C(k,2) structs in one
  * row. These pin (a) the buffer's drop-on-overflow behavior, (b) the
  * plan shape (capped aggregate below the filter, no unbounded
  * collect_list, still 2 exchanges / no join), and (c) bit-identical
  * pairs against the pre-r18 collect_list + explode(flatten(...))
  * formulation on a corpus with a planted over-cap hot shingle.
  */
class CappedPairCoreSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark

  test("CappedMembersBuffer drops members the moment the cap is crossed") {
    val b = new CappedMembersBuffer(3)
    b.add(5L, 10); b.add(1L, 20); b.add(3L, 30)
    assert(b.n == 3 && !b.overflowed)
    b.add(7L, 40) // 4th member of a cap-3 group: stop-shingle
    assert(b.overflowed, "4th add must overflow a cap-3 buffer")
    assert(b.ids == null && b.ns == null && b.n == 0,
      "overflow must RELEASE the member arrays — the cap is a memory " +
        "bound, not an output filter")
    b.add(9L, 50) // further adds stay dropped
    assert(b.overflowed && b.ids == null)
  }

  test("CappedMembersBuffer merge: overflow is sticky and size-summed") {
    val a = new CappedMembersBuffer(3)
    a.add(1L, 1); a.add(2L, 2)
    val b = new CappedMembersBuffer(3)
    b.add(3L, 3); b.add(4L, 4)
    a.mergeFrom(b) // 2 + 2 > 3
    assert(a.overflowed && a.ids == null,
      "merged size past the cap must overflow and release memory")
    val c = new CappedMembersBuffer(3)
    c.add(9L, 9)
    c.mergeFrom(a) // other side overflowed
    assert(c.overflowed && c.ids == null, "overflow must be sticky")
  }

  test("collect_members_capped: over-cap groups -> NULL, survivors sorted") {
    import spark.implicits._
    // shingle A: df 4 (over cap 3) -> dropped; shingle B: df 3 (at
    // cap) -> kept, members sorted by doc_id
    val df = Seq(
      ("A", 4L, 40), ("A", 2L, 20), ("A", 3L, 30), ("A", 1L, 10),
      ("B", 9L, 90), ("B", 7L, 70), ("B", 8L, 80)
    ).toDF("s", "doc_id", "n_sh")
    val rows = df.groupBy(col("s"))
      .agg(call_function("collect_members_capped",
        col("doc_id"), col("n_sh"), lit(3L)).as("ms"))
      .collect().map(r => r.getString(0) -> r.get(1)).toMap
    assert(rows("A") == null, "df-4 group must evaluate to NULL at cap 3")
    val b = rows("B")
      .asInstanceOf[scala.collection.Seq[org.apache.spark.sql.Row]]
    assert(b.map(_.getLong(0)).toSeq == Seq(7L, 8L, 9L),
      s"unsorted members: $b")
    assert(b.map(_.getInt(1)).toSeq == Seq(70, 80, 90))
  }

  test("pair core plan: capped aggregate (no unbounded collect_list), " +
      "streamed emission, 2 exchanges, no join") {
    import spark.implicits._
    val docs = (0 until 30).map { i =>
      (i.toLong, s"token$i alpha beta gamma delta epsilon zeta eta " +
        s"theta${i % 3}")
    }.toDF("doc_id", "text")
    val df = TextOps.shinglePairCounts(docs, shingleN = 3, maxDf = 5L)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("collect_members_capped"),
      s"member collection must be the CAPPED aggregate:\n$p")
    assert(!p.contains("collect_list"),
      s"an unbounded collect_list crept back into the pair core:\n$p")
    // the df-cap filter sits ABOVE the capped aggregate (null ==
    // overflowed == dropped) but the BUFFER bound lives inside the
    // aggregate itself — there must be no pre-aggregation join and no
    // flatten-materialized pair array
    assert(!p.contains("Join"), s"the r17 join-free core regressed:\n$p")
    assert(!p.contains("flatten("),
      s"pair emission materializes the C(k,2) array again:\n$p")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges == 2,
      s"pair core must keep exactly 2 exchanges (index, pair agg), " +
        s"got $exchanges:\n$p")
  }

  test("pairs are bit-identical to the pre-r18 collect_list form, " +
      "including a planted over-cap hot shingle") {
    import spark.implicits._
    // every doc shares the hot trigram "zz zz zz" (df 12 > cap 8);
    // organic trigrams pair subsets of docs under the cap
    val docs = (0 until 12).map { i =>
      (i.toLong, s"zz zz zz common${i % 4} common${i % 4} tail$i end$i")
    }.toDF("doc_id", "text")
    val now = TextOps.shinglePairCounts(docs, shingleN = 3, maxDf = 8L)
      .orderBy("id_a", "id_b").collect().toSeq
    // pre-r18 reference formulation (verbatim shape)
    val inv = docs
      .select(col("doc_id"),
        TextOps.hashedShingles(TextOps.tokens(col("text")), 3).as("sh"))
      .select(col("doc_id"), size(col("sh")).as("n_sh"),
        explode(col("sh")).as("s"))
    val members = inv.groupBy(col("s"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("n_sh"))))
        .as("ms"))
      .filter(size(col("ms")) <= 8L)
    val ref = members.select(explode(flatten(
      transform(col("ms"), (x, i) =>
        transform(slice(col("ms"), i + lit(2), size(col("ms")) - i - 1),
          y => struct(
            x.getField("doc_id").as("id_a"),
            y.getField("doc_id").as("id_b"),
            x.getField("n_sh").as("na"),
            y.getField("n_sh").as("nb")))))).as("p"))
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        col("p.na").as("na"), col("p.nb").as("nb"))
      .agg(count(lit(1)).as("common"))
      .orderBy("id_a", "id_b").collect().toSeq
    assert(now == ref,
      s"capped core diverged from the reference:\nnow=$now\nref=$ref")
    assert(now.nonEmpty, "fixture produced no pairs — test is vacuous")
  }
}
