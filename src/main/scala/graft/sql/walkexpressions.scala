// Same packaging rationale as expressions.scala: Catalyst-private types.
package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.util.ArrayData

/**
 * Native kernel for the node2vec biased neighbor choice: everything the
 * old fan-out plan did with per-neighbor ROWS (explode the frontier by
 * the current node's full neighborhood, left-join an edge-existence mark
 * for each (prev, nbr), window-cumsum the weights per walk, filter the
 * pick interval) collapses into ONE in-row pass over the two id-sorted
 * adjacency arrays. Per step that removes two shuffles of Σ deg(cur)
 * fan rows and a per-walk window sort; the surviving shuffles carry only
 * frontier rows (nodes × walksPerNode) joined against the adjacency-list
 * table.
 */
object WalkOps {
  /**
   * Weighted node2vec pick, bit-identical to the windowed-cumsum form:
   * neighbor x of `cur` (sorted ascending in `nbrs`, no duplicates —
   * the edge list is distinct) carries weight `retW` when x == prev,
   * 1000 when the DIRECTED edge (prev → x) exists (`prevNbrs` is prev's
   * sorted neighbor array), else `farW`; the chosen neighbor is the one
   * whose cumulative-weight interval (in array order) contains
   * `hash mod Σweights`. Two-pointer merge over the two sorted arrays —
   * O(|nbrs| + |prevNbrs|), no allocation.
   *
   * Caller guarantees: nbrs non-empty (the frontier join is inner on the
   * adjacency table), weights ≥ 1 so the total is positive, hash ≥ 0
   * (60-bit md5 prefix), and Σweights ≤ |nbrs| · max(1000, retW, farW)
   * stays far below 2⁶³ for any real degree.
   */
  def node2vecChoose(nbrs: ArrayData, prevNbrs: ArrayData, prev: Long,
                     hash: Long, retW: Long, farW: Long): Long = {
    val n = nbrs.numElements()
    val m = prevNbrs.numElements()
    var tot = 0L
    var i = 0
    var j = 0
    while (i < n) {
      val x = nbrs.getLong(i)
      while (j < m && prevNbrs.getLong(j) < x) j += 1
      tot += (if (x == prev) retW
              else if (j < m && prevNbrs.getLong(j) == x) 1000L
              else farW)
      i += 1
    }
    val pick = java.lang.Math.floorMod(hash, tot)
    var cum = 0L
    i = 0
    j = 0
    while (i < n) {
      val x = nbrs.getLong(i)
      while (j < m && prevNbrs.getLong(j) < x) j += 1
      cum += (if (x == prev) retW
              else if (j < m && prevNbrs.getLong(j) == x) 1000L
              else farW)
      if (pick < cum) return x
      i += 1
    }
    nbrs.getLong(n - 1) // unreachable: pick < tot == final cum
  }
}
