package graft

import graft.operators.DedupGroups
import org.apache.spark.sql.functions._

/** Connected-components laws for pointer doubling (`shortcutAfter = 0`
  * doubles from the first round): bit-identical groups on ordinary
  * graphs, and convergence on an adversarially DEEP chain within a
  * round budget plain min-label propagation provably cannot meet
  * (diameter rounds vs log-diameter).
  */
class DedupGroupsSpec extends SparkSpec {
  import spark.implicits._

  test("shortcut CC ≡ plain CC on branchy multi-component graphs") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L),      // triangle
      (3L, 4L), (4L, 5L),                // tail off the triangle
      (10L, 11L), (11L, 12L), (10L, 12L), (12L, 13L),
      (20L, 21L),                        // isolated edge
      (30L, 31L), (31L, 32L), (30L, 33L) // star-ish
    ).toDF("doc_a", "doc_b")
    val plain = rowSet(DedupGroups.connectedComponents(pairs))
    val fast = rowSet(DedupGroups.connectedComponents(pairs, shortcutAfter = 0))
    assert(plain === fast)
    assert(plain.nonEmpty)
  }

  test("pointer doubling converges on a deep chain where plain cannot") {
    val n = 300L
    val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    // plain min-label propagation moves the min one hop per round:
    // a 300-deep chain cannot converge in 12 rounds (shortcutAfter
    // disabled so the r16 adaptive doubling stays out of the way)
    intercept[IllegalArgumentException] {
      DedupGroups.connectedComponents(chain, maxRounds = 12,
        shortcutAfter = Int.MaxValue)
    }
    // label-of-label doubling closes it in O(log n) rounds
    val got = DedupGroups.connectedComponents(chain, maxRounds = 12,
      shortcutAfter = 0)
    assert(got.count() === n)
    assert(got.filter(col("group_id") =!= 0L).count() === 0,
      "every chain member must collapse to the min doc_id 0")
    // the r16 ADAPTIVE default (doubling after 4 unconverged plain
    // rounds) also closes it, with the identical fixpoint
    val adaptive = rowSet(DedupGroups.connectedComponents(chain, maxRounds = 12))
    assert(adaptive === rowSet(got))
  }
}
