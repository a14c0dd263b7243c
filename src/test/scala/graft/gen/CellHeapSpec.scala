package graft.gen

import graft.geom.CellHeap
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** The polylabel search's index heap pops records in the order of the
  * strided record heap it replaced (kept below as the reference), on
  * generated streams of interleaved batch appends and pops: keys drawn
  * from a handful of values so that ties abound (with the odd NaN and
  * signed zero), batches of 1, 4 and up to 300 records so that both
  * `finishExtend` branches run, and pops between batches so that pool
  * slots are reused.
  */
class CellHeapSpec extends AnyFunSuite {
  import CellHeapSpec._

  private val key: Gen[Double] = Gen.frequency(
    12 -> Gen.choose(0, 5).map(_.toDouble),
    4 -> Gen.choose(-1e3, 1e3),
    1 -> Gen.oneOf(Double.NaN, -0.0, 0.0, Double.PositiveInfinity))

  private val op: Gen[Op] = Gen.frequency(
    6 -> Gen.const(Pop),
    3 -> Gen.oneOf(1, 4).flatMap(Gen.listOfN(_, key)).map(Extend(_)),
    1 -> Gen.choose(5, 300).flatMap(Gen.listOfN(_, key)).map(Extend(_)))

  private def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)

  /** The first pop where the two heaps differ, running `ops` and then
    * draining both; a record's fields are (id, id + 0.5, id + 0.25,
    * id + 0.125, key), so a mismatch in any field names the record.
    */
  private def mismatch(ops: Seq[Op]): Option[String] = {
    val heap = new CellHeap(8)
    val ref = new StridedCellHeap(8)
    var next = 0
    var pops = 0
    def pop(): Option[String] = {
      heap.pop(); ref.pop(); pops += 1
      val got = Seq(heap.cx, heap.cy, heap.halfExtent, heap.distance, heap.maxDistance)
      val want = Seq(ref.cx, ref.cy, ref.halfExtent, ref.distance, ref.maxDistance)
      if (got.map(bits) == want.map(bits) && heap.size == ref.size) None
      else Some(s"pop $pops: index heap $got (size ${heap.size}), strided heap $want (size ${ref.size})")
    }
    val steps = ops.iterator.map {
      case Extend(ks) =>
        heap.beginExtend(ks.size); ref.beginExtend(ks.size)
        for (k <- ks) {
          val id = next.toDouble
          heap.append(id, id + 0.5, id + 0.25, id + 0.125, k)
          ref.append(id, id + 0.5, id + 0.25, id + 0.125, k)
          next += 1
        }
        heap.finishExtend(ks.size); ref.finishExtend(ks.size)
        None
      case Pop => if (ref.nonEmpty) pop() else None
    } ++ Iterator.continually(()).takeWhile(_ => ref.nonEmpty || heap.nonEmpty).map(_ => pop())
    steps.collectFirst { case Some(m) => m }
  }

  test("index heap pops the strided heap's sequence: ties, both extend branches, reused slots") {
    Props.check("heap order", Gen.listOfN(120, op), seed = 0x4EA9L, count = 300)(mismatch)
  }
}

private object CellHeapSpec {
  sealed trait Op
  final case class Extend(keys: Seq[Double]) extends Op
  case object Pop extends Op
}

/** The strided record heap the index heap replaced: five doubles per slot
  * (cx, cy, halfExtent, distance, maxDistance), every record move a
  * five-double copy.
  */
private final class StridedCellHeap(initialCapacity: Int = 64) {
  private final val S = 5 // doubles per record; slot 4 = maxDistance key
  private var data = new Array[Double](math.max(initialCapacity, 8) * S)
  private var n = 0
  // the "hole element" record held aside during sifts
  private val el = new Array[Double](S)

  def size: Int = n
  def nonEmpty: Boolean = n > 0

  // popped cell fields (read after pop())
  var cx = 0.0; var cy = 0.0; var halfExtent = 0.0
  var distance = 0.0; var maxDistance = 0.0

  private def ensure(cap: Int): Unit = {
    if (cap * S > data.length) {
      var c = data.length / S
      while (c < cap) c *= 2
      val bigger = new Array[Double](c * S)
      System.arraycopy(data, 0, bigger, 0, n * S)
      data = bigger
    }
  }

  @inline private def key(pos: Int): Double = data(pos * S + 4)
  @inline private def move(from: Int, to: Int): Unit =
    System.arraycopy(data, from * S, data, to * S, S)
  @inline private def loadEl(pos: Int): Unit =
    System.arraycopy(data, pos * S, el, 0, S)
  @inline private def storeEl(pos: Int): Unit =
    System.arraycopy(el, 0, data, pos * S, S)

  /** Write a record directly into slot `pos` (no heap maintenance). */
  @inline private def put(pos: Int, x: Double, y: Double, he: Double,
                          d: Double, maxD: Double): Unit = {
    val b = pos * S
    data(b) = x; data(b + 1) = y; data(b + 2) = he
    data(b + 3) = d; data(b + 4) = maxD
  }

  private def siftUp(start: Int, pos0: Int): Unit = {
    var pos = pos0
    loadEl(pos)
    val k = el(4)
    var done = false
    while (!done && pos > start) {
      val parent = (pos - 1) / 2
      if (k <= key(parent)) done = true
      else { move(parent, pos); pos = parent }
    }
    storeEl(pos)
  }

  def pop(): Unit = {
    n -= 1
    val lastBase = n * S
    if (n == 0) {
      cx = data(lastBase); cy = data(lastBase + 1); halfExtent = data(lastBase + 2)
      distance = data(lastBase + 3); maxDistance = data(lastBase + 4)
    } else {
      cx = data(0); cy = data(1); halfExtent = data(2)
      distance = data(3); maxDistance = data(4)
      move(n, 0)
      siftDownToBottom(0)
    }
  }

  private def siftDownToBottom(pos0: Int): Unit = {
    val end = n
    val start = pos0
    var pos = pos0
    loadEl(pos)
    var child = 2 * pos + 1
    while (child <= end - 2) {
      if (key(child) <= key(child + 1)) child += 1
      move(child, pos)
      pos = child
      child = 2 * pos + 1
    }
    if (child == end - 1) {
      move(child, pos)
      pos = child
    }
    storeEl(pos)
    siftUp(start, pos)
  }

  /** Classic sift-down over pos0..n: promote the larger child (right wins
    * ties) while it beats the sifted element.
    */
  private def siftDownRange(pos0: Int): Unit = {
    val end = n
    var pos = pos0
    loadEl(pos)
    val k = el(4)
    var child = 2 * pos + 1
    var done = false
    while (!done && child <= end - 2) {
      if (key(child) <= key(child + 1)) child += 1
      if (k >= key(child)) done = true
      else { move(child, pos); pos = child; child = 2 * pos + 1 }
    }
    if (!done && child == end - 1 && k < key(child)) {
      move(child, pos)
      pos = child
    }
    storeEl(pos)
  }

  /** Floyd heapify of the whole array. */
  private def rebuild(): Unit = {
    var i = n / 2
    while (i > 0) { i -= 1; siftDownRange(i) }
  }

  /** Begin appending `count` records for extend; call `append` exactly
    * `count` times, then `finishExtend(count)`.
    */
  def beginExtend(count: Int): Unit = ensure(n + count)

  @inline def append(x: Double, y: Double, he: Double, d: Double, maxD: Double): Unit = {
    put(n, x, y, he, d, maxD)
    n += 1
  }

  /** Restore the heap property after `count` appended records, with the
    * batch-vs-size policy Rust's `BinaryHeap::extend` uses (full Floyd
    * rebuild when the batch rivals the existing heap — element footprint
    * 40 bytes gives the 2048/40 = 51 small-heap hybrid threshold).
    */
  def finishExtend(count: Int): Unit = {
    val start = n - count
    val betterToRebuild =
      if (start < count) true
      else if (n <= 51) count > n / 2
      else count > n / 4
    if (betterToRebuild) rebuild()
    else {
      var i = start
      while (i < n) { siftUp(0, i); i += 1 }
    }
  }
}
