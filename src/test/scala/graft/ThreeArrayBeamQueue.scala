package graft

/** Test model of [[graft.index.BeamQueue]]: the three-parallel-array queue
  * it replaced (ids, distances, expanded flags, shifted one element at a
  * time), kept to check the packed-key queue against entry by entry. */
final class ThreeArrayBeamQueue(val capacity: Int) {
  private val ids = new Array[Int](capacity)
  private val ds = new Array[Float](capacity)
  private val flags = new Array[Boolean](capacity)
  private var _size = 0
  private var cur = 0

  def size: Int = _size
  def id(i: Int): Int = ids(i)
  def dist(i: Int): Float = ds(i)
  def expanded(i: Int): Boolean = flags(i)

  private def before(d: Float, i: Int, pos: Int): Boolean =
    d < ds(pos) || (d == ds(pos) && i < ids(pos))

  def insert(nid: Int, d: Float): Unit = {
    if (_size == capacity && !before(d, nid, _size - 1)) return
    var lo = 0
    var hi = _size
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (before(d, nid, mid)) hi = mid else lo = mid + 1
    }
    val pos = lo
    var i = if (_size == capacity) _size - 1 else _size
    while (i > pos) {
      ids(i) = ids(i - 1); ds(i) = ds(i - 1); flags(i) = flags(i - 1)
      i -= 1
    }
    ids(pos) = nid; ds(pos) = d; flags(pos) = false
    if (_size < capacity) _size += 1
    if (pos < cur) cur = pos
  }

  def hasUnexpandedInK(k: Int): Boolean = {
    while (cur < _size && flags(cur)) cur += 1
    cur < math.min(_size, k)
  }

  def closestUnexpanded(): Int = {
    while (cur < _size && flags(cur)) cur += 1
    flags(cur) = true
    cur
  }
}
