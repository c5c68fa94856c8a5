package graft.index

/** W2 — bounded ordered beam queue, the semantics of the reference's
  * `NeighborPriorityQueue` (`/root/reference/include/efanna2e/neighbor.h:137-226`):
  * a capacity-L array kept sorted by (distance asc, id asc), binary-search
  * insert, and a cursor over not-yet-expanded entries
  * (`closest_unexpanded` / `has_unexpanded_node_in_k`).
  *
  * Layout: one sorted `Array[Long]` of packed keys plus the distances as
  * inserted. A key's high word is the distance's bits mapped so that
  * signed order is float order, with −0.0 and +0.0 folded together
  * (`<` and `==` treat them as one value); its low word is
  * `id << 1 | expanded`. So an insert is one `long` binary search and one
  * `System.arraycopy` per array: in perfbench's `mv_batch` search 87% of
  * accepted inserts land past the active beam, and an accepted insert
  * moves about 140 entries.
  *
  * Ids are non-negative (node ids). Over finite and infinite distances
  * the order, the tie-break on id and the expansion cursor are those of
  * a (distance, id) comparison. A NaN distance sorts after every other
  * distance, +∞ included, and NaNs among themselves by id.
  *
  * Pure executor-local data structure — one per (task, subquery); never
  * serialized.
  */
final class BeamQueue(val capacity: Int) {
  private val keys = new Array[Long](capacity)
  private val ds = new Array[Float](capacity)
  private var _size = 0
  private var cur = 0 // lower bound for the closest unexpanded entry

  @inline def size: Int = _size
  @inline def id(i: Int): Int = keys(i).toInt >>> 1
  @inline def dist(i: Int): Float = ds(i)
  @inline def expanded(i: Int): Boolean = (keys(i) & 1L) != 0

  /** Insert candidate; drops the worst entry when full. Duplicate ids are
    * the caller's concern (the search kernels dedup via the visited set);
    * an entry equal in (distance, id) to a queued one goes after it. */
  def insert(nid: Int, d: Float): Unit = {
    // every queued key equal in (distance, id), expanded or not, is <= probe
    val probe = BeamQueue.key(d, nid) | 1L
    if (_size == capacity && keys(_size - 1) <= probe) return
    var lo = 0
    var hi = _size
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (keys(mid) <= probe) lo = mid + 1 else hi = mid
    }
    val pos = lo
    val moved = (if (_size == capacity) _size - 1 else _size) - pos
    if (moved > 0) {
      System.arraycopy(keys, pos, keys, pos + 1, moved)
      System.arraycopy(ds, pos, ds, pos + 1, moved)
    }
    keys(pos) = probe & ~1L
    ds(pos) = d
    if (_size < capacity) _size += 1
    if (pos < cur) cur = pos
  }

  /** Any unexpanded entry among the first `k`? (`neighbor.h`'s
    * `has_unexpanded_node_in_k`.) */
  def hasUnexpandedInK(k: Int): Boolean = {
    while (cur < _size && expanded(cur)) cur += 1
    cur < math.min(_size, k)
  }

  /** Index of the closest unexpanded entry; marks it expanded. Call only
    * after a true [[hasUnexpandedInK]]. */
  def closestUnexpanded(): Int = {
    while (cur < _size && expanded(cur)) cur += 1
    keys(cur) |= 1L
    cur
  }
}

object BeamQueue {

  /** The unexpanded key of (`d`, `id`): `d`'s bits with the magnitude bits
    * of negative values flipped, so signed int order is float order (NaN
    * canonicalized above +∞), over `id << 1`. */
  @inline private def key(d: Float, id: Int): Long = {
    val bits = if (d == 0.0f) 0 else java.lang.Float.floatToIntBits(d)
    val ordered = bits ^ ((bits >> 31) & 0x7fffffff)
    (ordered.toLong << 32) | ((id.toLong << 1) & 0xffffffffL)
  }
}

/** G14 — epoch-tagged visited set (`include/visited_list_pool.h:8-74`):
  * clearing is an epoch bump, not an O(n) wipe. One per task, reused
  * across queries; Spark task = thread, so no pool/mutex needed. */
final class VisitedSet(n: Int) {
  private val tags = new Array[Int](n)
  private var epoch = 0

  def nextEpoch(): Unit = {
    epoch += 1
    if (epoch == Int.MaxValue) { // wraparound: hard reset once in 2^31 queries
      java.util.Arrays.fill(tags, 0)
      epoch = 1
    }
  }

  @inline def visited(i: Int): Boolean = tags(i) == epoch
  @inline def visit(i: Int): Unit = tags(i) = epoch
}
