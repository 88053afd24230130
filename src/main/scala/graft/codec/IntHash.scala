package graft.codec

/** Primitive open-addressing int hash set/map — no boxing on the encode hot
  * path (ColumnStats distinct tracking, dictionary building). Linear
  * probing, power-of-two capacity, Fibonacci hashing. Not thread-safe;
  * instances are per-row locals.
  */
final class IntHashSet(initialCapacity: Int) {
  private var cap = Integer.highestOneBit(math.max(16, initialCapacity * 2) - 1) << 1
  private var mask = cap - 1
  private var keys = new Array[Int](cap)
  private var used = new Array[Boolean](cap)
  private var n = 0

  def size: Int = n

  @inline private def slot(k: Int): Int = (k * -1640531527) & mask // 2^32/phi

  /** Returns true if newly added. */
  def add(k: Int): Boolean = {
    var i = slot(k)
    while (used(i)) {
      if (keys(i) == k) return false
      i = (i + 1) & mask
    }
    keys(i) = k
    used(i) = true
    n += 1
    if (n * 4 > cap * 3) grow()
    true
  }

  private def grow(): Unit = {
    val ok = keys; val ou = used
    cap <<= 1; mask = cap - 1
    keys = new Array[Int](cap)
    used = new Array[Boolean](cap)
    n = 0
    var i = 0
    while (i < ok.length) {
      if (ou(i)) add(ok(i))
      i += 1
    }
  }
}

/** Primitive int→int map for dictionary building (values are dense ids). */
final class IntIntMap(initialCapacity: Int) {
  private var cap = Integer.highestOneBit(math.max(16, initialCapacity * 2) - 1) << 1
  private var mask = cap - 1
  private var keys = new Array[Int](cap)
  private var vals = new Array[Int](cap)
  private var used = new Array[Boolean](cap)
  private var n = 0

  def size: Int = n

  @inline private def slot(k: Int): Int = (k * -1640531527) & mask

  def getOrElse(k: Int, default: Int): Int = {
    var i = slot(k)
    while (used(i)) {
      if (keys(i) == k) return vals(i)
      i = (i + 1) & mask
    }
    default
  }

  def put(k: Int, v: Int): Unit = {
    var i = slot(k)
    while (used(i)) {
      if (keys(i) == k) { vals(i) = v; return }
      i = (i + 1) & mask
    }
    keys(i) = k; vals(i) = v; used(i) = true
    n += 1
    if (n * 4 > cap * 3) grow()
  }

  private def grow(): Unit = {
    val ok = keys; val ov = vals; val ou = used
    cap <<= 1; mask = cap - 1
    keys = new Array[Int](cap)
    vals = new Array[Int](cap)
    used = new Array[Boolean](cap)
    n = 0
    var i = 0
    while (i < ok.length) {
      if (ou(i)) put(ok(i), ov(i))
      i += 1
    }
  }
}

/** Primitive long→int map (FSST symbol table lookups). Keys must be
  * non-zero: 0 marks an empty slot (a packed symbol's length byte is ≥ 1).
  */
final class LongIntMap(initialCapacity: Int) {
  private var cap = Integer.highestOneBit(math.max(16, initialCapacity * 2) - 1) << 1
  private var mask = cap - 1
  private var keys = new Array[Long](cap)
  private var vals = new Array[Int](cap)
  private var n = 0

  def size: Int = n

  @inline private def slot(k: Long): Int =
    ((k * -7046029254386353131L) >>> 40).toInt & mask

  def getOrElse(k: Long, default: Int): Int = {
    var i = slot(k)
    while (keys(i) != 0L) {
      if (keys(i) == k) return vals(i)
      i = (i + 1) & mask
    }
    default
  }

  def contains(k: Long): Boolean = getOrElse(k, Int.MinValue) != Int.MinValue

  def put(k: Long, v: Int): Unit = {
    var i = slot(k)
    while (keys(i) != 0L) {
      if (keys(i) == k) { vals(i) = v; return }
      i = (i + 1) & mask
    }
    keys(i) = k; vals(i) = v
    n += 1
    if (n * 4 > cap * 3) grow()
  }

  private def grow(): Unit = {
    val ok = keys; val ov = vals
    cap <<= 1; mask = cap - 1
    keys = new Array[Long](cap)
    vals = new Array[Int](cap)
    n = 0
    var i = 0
    while (i < ok.length) {
      if (ok(i) != 0L) put(ok(i), ov(i))
      i += 1
    }
  }
}

/** Primitive long→long map with additive merge (FSST gain counting). Keys
  * must be non-zero (0 marks an empty slot). Entries are read back in
  * insertion order through `keyAt`/`valueAt`, and `clear` touches only the
  * occupied slots, so one map serves every training round.
  */
final class LongLongMap(initialCapacity: Int) {
  private var cap = Integer.highestOneBit(math.max(16, initialCapacity * 2) - 1) << 1
  private var mask = cap - 1
  private var keys = new Array[Long](cap)
  private var vals = new Array[Long](cap)
  private var slots = new Array[Int](cap) // occupied slots, insertion order
  private var n = 0

  def size: Int = n
  def keyAt(i: Int): Long = keys(slots(i))
  def valueAt(i: Int): Long = vals(slots(i))

  @inline private def slot(k: Long): Int =
    ((k * -7046029254386353131L) >>> 40).toInt & mask

  /** Empties the map, keeping its capacity. */
  def clear(): Unit = {
    var i = 0
    while (i < n) { keys(slots(i)) = 0L; i += 1 }
    n = 0
  }

  def addTo(k: Long, v: Long): Unit = {
    var i = slot(k)
    while (keys(i) != 0L) {
      if (keys(i) == k) { vals(i) += v; return }
      i = (i + 1) & mask
    }
    keys(i) = k; vals(i) = v; slots(n) = i
    n += 1
    if (n * 4 > cap * 3) grow()
  }

  private def grow(): Unit = {
    val ok = keys; val ov = vals; val os = slots; val on = n
    cap <<= 1; mask = cap - 1
    keys = new Array[Long](cap)
    vals = new Array[Long](cap)
    slots = new Array[Int](cap)
    n = 0
    var i = 0
    while (i < on) { addTo(ok(os(i)), ov(os(i))); i += 1 }
  }
}
