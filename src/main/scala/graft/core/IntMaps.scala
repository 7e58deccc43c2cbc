package graft.core

/** Insertion-ordered, open-addressing int-keyed maps for the decode hot
  * path. Python dicts (whose insertion-order semantics the decode algebra
  * inherits, see [[Spots]]) were ported in round 1 as LinkedHashMap — key
  * boxing plus an entry object per put measured ~40% of the decode stage's
  * allocation. These replace them with parallel primitive arrays:
  *
  *  - re-putting an existing key updates the value IN PLACE and keeps the
  *    original insertion position (LinkedHashMap / python dict semantics);
  *  - iteration follows first-insertion order;
  *  - lookups return a sentinel (-1) instead of Option — keys are token
  *    indices, always >= 0.
  *
  * Not general-purpose: no removal, and [[IntBestOrdered]] and
  * [[IntMultiOrdered]] take keys >= 0 only.
  */
private[core] object IntMaps {
  @inline def mix(k: Int): Int = {
    val h = k * 0x9E3779B1
    h ^ (h >>> 16)
  }
}

/** int -> int, insertion-ordered. Entries sit in insertion order in
  * parallel key/value arrays, so iteration never probes; an index maps a
  * key to its entry (entry + 1, 0 = absent). The index starts DIRECT —
  * `index(k)` for keys below its length, which the builder's dense line
  * and entity ids always are — and the first negative or too-large key
  * turns it into an open-addressing hash table for good. Nothing is
  * allocated before the first insert (many of the builder's maps stay
  * empty).
  */
final class IntIntOrdered(initCap: Int = 8) {
  private var keys: Array[Int] = null
  private var vals: Array[Int] = null
  private var n = 0
  private var index: Array[Int] = null
  private var hashed = false

  /** Hash-mode slot holding k, or the empty slot where it would go. */
  private def probe(k: Int): Int = {
    val mask = index.length - 1
    var s = IntMaps.mix(k) & mask
    while (index(s) != 0 && keys(index(s) - 1) != k) s = (s + 1) & mask
    s
  }

  private def rehash(cap: Int): Unit = {
    index = new Array[Int](cap)
    hashed = true
    var e = 0
    while (e < n) { index(probe(keys(e))) = e + 1; e += 1 }
  }

  /** Entry of k, or -1 when absent. */
  @inline private def find(k: Int): Int =
    if (n == 0) -1
    else if (!hashed) { if (k >= 0 && k < index.length) index(k) - 1 else -1 }
    else index(probe(k)) - 1

  /** Appends absent key k. */
  private def insert(k: Int, v: Int): Unit = {
    if (keys == null) {
      keys = new Array[Int](math.max(8, initCap))
      vals = new Array[Int](keys.length)
      val cap = Integer.highestOneBit(keys.length - 1) * 2
      hashed = k < 0 || k >= cap
      index = new Array[Int](if (hashed) cap * 2 else cap)
    } else if (n == keys.length) {
      keys = java.util.Arrays.copyOf(keys, n * 2)
      vals = java.util.Arrays.copyOf(vals, n * 2)
    }
    keys(n) = k; vals(n) = v; n += 1
    if (!hashed && k >= 0 && k < index.length) index(k) = n
    else {
      if (!hashed) rehash(Integer.highestOneBit(math.max(keys.length, n) * 2 - 1) * 2)
      else if (n * 4 > index.length * 3) rehash(index.length * 2)
      else index(probe(k)) = n
    }
  }

  /** Insert or update; original insertion position preserved on update. */
  def put(k: Int, v: Int): Unit = {
    val e = find(k)
    if (e >= 0) vals(e) = v else insert(k, v)
  }

  /** Insert only if absent (first write wins) — the canonical-score
    * degenerate of [[IntBestOrdered.putIfBetter]] (all scores equal, ties
    * keep the first), with no Double array on the decode hot path.
    */
  def putIfAbsent(k: Int, v: Int): Unit = if (find(k) < 0) insert(k, v)

  /** Value for k, or -1 when absent. */
  def getOrMinus1(k: Int): Int = {
    val e = find(k)
    if (e < 0) -1 else vals(e)
  }

  def contains(k: Int): Boolean = find(k) >= 0
  def size: Int = n

  def foreachPair(f: (Int, Int) => Unit): Unit = {
    var e = 0
    while (e < n) { f(keys(e), vals(e)); e += 1 }
  }

  def toVector: Vector[(Int, Int)] = {
    val a = new Array[AnyRef](n)
    var e = 0
    while (e < n) { a(e) = (keys(e), vals(e)); e += 1 }
    Vecs.adopt(a)
  }
}

/** int -> (int, double), insertion-ordered, with the parse_matrix_spots
  * strict-greater update rule built in.
  */
final class IntBestOrdered(initCap: Int = 8) {
  private var cap = Integer.highestOneBit(math.max(8, initCap * 2 - 1)) * 2
  private var slotKey = new Array[Int](cap)
  private var slotVal = new Array[Int](cap)
  private var slotScore = new Array[Double](cap)
  private var order = new Array[Int](math.max(8, initCap))
  private var n = 0
  java.util.Arrays.fill(slotKey, -1)

  @inline private def slotOf(k: Int): Int = {
    var s = IntMaps.mix(k) & (cap - 1)
    while (slotKey(s) != -1 && slotKey(s) != k) s = (s + 1) & (cap - 1)
    s
  }

  private def grow(): Unit = {
    val ok = slotKey; val ov = slotVal; val os = slotScore
    cap *= 2
    slotKey = new Array[Int](cap); slotVal = new Array[Int](cap); slotScore = new Array[Double](cap)
    java.util.Arrays.fill(slotKey, -1)
    var i = 0
    while (i < ok.length) {
      val k = ok(i)
      if (k != -1) { val s = slotOf(k); slotKey(s) = k; slotVal(s) = ov(i); slotScore(s) = os(i) }
      i += 1
    }
  }

  /** First write wins position; later writes only replace on score > old. */
  def putIfBetter(k: Int, v: Int, score: Double): Unit = {
    val s = slotOf(k)
    if (slotKey(s) == -1) {
      slotKey(s) = k; slotVal(s) = v; slotScore(s) = score
      if (n == order.length) order = java.util.Arrays.copyOf(order, n * 2)
      order(n) = k; n += 1
      if (n * 4 > cap * 3) grow()
    } else if (score > slotScore(s)) { slotVal(s) = v; slotScore(s) = score }
  }

  def foreachEntry(f: (Int, Int, Double) => Unit): Unit = {
    var i = 0
    while (i < n) {
      val k = order(i); val s = slotOf(k)
      f(k, slotVal(s), slotScore(s)); i += 1
    }
  }
}

/** int -> growable int list, insertion-ordered (multimap append). */
final class IntMultiOrdered(initCap: Int = 8) {
  private var cap = Integer.highestOneBit(math.max(8, initCap * 2 - 1)) * 2
  private var slotKey = new Array[Int](cap)
  private var slotList = new Array[Array[Int]](cap) // element 0 = length
  private var order = new Array[Int](math.max(8, initCap))
  private var n = 0
  java.util.Arrays.fill(slotKey, -1)

  @inline private def slotOf(k: Int): Int = {
    var s = IntMaps.mix(k) & (cap - 1)
    while (slotKey(s) != -1 && slotKey(s) != k) s = (s + 1) & (cap - 1)
    s
  }

  private def grow(): Unit = {
    val ok = slotKey; val ol = slotList
    cap *= 2
    slotKey = new Array[Int](cap); slotList = new Array[Array[Int]](cap)
    java.util.Arrays.fill(slotKey, -1)
    var i = 0
    while (i < ok.length) {
      val k = ok(i)
      if (k != -1) { val s = slotOf(k); slotKey(s) = k; slotList(s) = ol(i) }
      i += 1
    }
  }

  def append(k: Int, v: Int): Unit = {
    val s = slotOf(k)
    if (slotKey(s) == -1) {
      slotKey(s) = k
      val arr = new Array[Int](5)
      arr(0) = 1; arr(1) = v
      slotList(s) = arr
      if (n == order.length) order = java.util.Arrays.copyOf(order, n * 2)
      order(n) = k; n += 1
      if (n * 4 > cap * 3) grow()
    } else {
      var arr = slotList(s)
      val len = arr(0)
      if (len + 1 >= arr.length) { arr = java.util.Arrays.copyOf(arr, arr.length * 2); slotList(s) = arr }
      arr(len + 1) = v
      arr(0) = len + 1
    }
  }

  /** True iff key present and v among its values. */
  def containsValue(k: Int, v: Int): Boolean = {
    val s = slotOf(k)
    if (slotKey(s) == -1) false
    else {
      val arr = slotList(s)
      var i = 1
      var found = false
      while (!found && i <= arr(0)) { found = arr(i) == v; i += 1 }
      found
    }
  }

  /** First value for key, or -1 when absent. */
  def firstOrMinus1(k: Int): Int = {
    val s = slotOf(k)
    if (slotKey(s) == -1) -1 else slotList(s)(1)
  }

  def size: Int = n

  def foreachKey(f: Int => Unit): Unit = {
    var i = 0
    while (i < n) { f(order(i)); i += 1 }
  }

  def valuesOf(k: Int): Vector[Int] = {
    val s = slotOf(k)
    if (slotKey(s) == -1) Vector.empty
    else {
      val arr = slotList(s)
      val a = new Array[AnyRef](arr(0))
      var i = 0
      while (i < a.length) { a(i) = Integer.valueOf(arr(i + 1)); i += 1 }
      Vecs.adopt(a)
    }
  }

  def toVectorMulti: Vector[(Int, Vector[Int])] = {
    val a = new Array[AnyRef](n)
    var i = 0
    while (i < n) { a(i) = (order(i), valuesOf(order(i))); i += 1 }
    Vecs.adopt(a)
  }
}
