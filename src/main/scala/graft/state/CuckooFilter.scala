package graft.state

import scala.util.hashing.MurmurHash3

/** Cuckoo filter (Fan, Andersen, Kaminsky, Mitzenmacher: "Cuckoo Filter:
  * Practically Better Than Bloom", CoNEXT 2014).
  *
  * Kept only because the crawl benchmark's seen-set probe times it
  * (through `SeenSet.buildCuckooState`/`filterNewCuckoo`) next to the Bloom
  * prefilter the engine uses; no crawl or stream runs it. It supports
  * DELETION, which a Bloom cannot, but nothing in the engine deletes a seen
  * mark. Same safety contract as the Bloom layer: NO false negatives for
  * present members — a successful insert is always visible to lookup, so
  * routing "definitely new" rows around the exact anti-join can never
  * drop a URL. False positives (~2^-14 per lookup at b=4, f=16) only cost
  * a redundant pass through the exact join.
  *
  * Layout: `numBuckets` power-of-two buckets × 4 slots × 16-bit
  * fingerprints, packed 4 slots per Long. Partial-key cuckoo hashing:
  * bucket2 = bucket1 XOR hash(fingerprint), so relocation needs only the
  * stored fingerprint. Bounded eviction (500 kicks) with a small stash as
  * the overflow safety valve — items in the stash keep the no-false-
  * negative guarantee even when the table is pathologically full.
  */
final class CuckooFilter private (
    numBuckets: Int,
    table: Array[Long],
    // multiset (fingerprint → copies): two overflowed items with equal
    // fingerprints must keep TWO stash copies, or a single delete() of one
    // would produce a false negative for the other (round-3 advice)
    private var stash: Map[Short, Int],
    private var count: Long) extends Serializable {

  import CuckooFilter._

  private val mask = numBuckets - 1

  def size: Long = count

  private def slot(bucket: Int, i: Int): Int =
    ((table(bucket) >>> (16 * i)) & 0xffffL).toInt

  private def setSlot(bucket: Int, i: Int, fp: Int): Unit =
    table(bucket) = (table(bucket) & ~(0xffffL << (16 * i))) |
      ((fp.toLong & 0xffffL) << (16 * i))

  private def tryInsertAt(bucket: Int, fp: Int): Boolean = {
    var i = 0
    while (i < SlotsPerBucket) {
      if (slot(bucket, i) == Empty) { setSlot(bucket, i, fp); return true }
      i += 1
    }
    false
  }

  def insert(key: String): Boolean = {
    val fp = fingerprint(key)
    val b1 = bucket1(key, mask)
    val b2 = altBucket(b1, fp, mask)
    if (tryInsertAt(b1, fp) || tryInsertAt(b2, fp)) { count += 1; return true }
    // bounded eviction chain; the kicked fingerprint hops to its alternate
    var cur = fp
    var b = if (((b1 ^ b2) & 1) == 0) b1 else b2
    var kicks = 0
    while (kicks < MaxKicks) {
      val victimSlot = kicks % SlotsPerBucket
      val victim = slot(b, victimSlot)
      setSlot(b, victimSlot, cur)
      cur = victim
      b = altBucket(b, cur, mask)
      if (tryInsertAt(b, cur)) { count += 1; return true }
      kicks += 1
    }
    // overflow safety valve: stash keeps the no-false-negative contract
    val fpS = cur.toShort
    stash = stash.updated(fpS, stash.getOrElse(fpS, 0) + 1)
    count += 1
    true
  }

  def mightContain(key: String): Boolean = {
    val fp = fingerprint(key)
    val b1 = bucket1(key, mask)
    val b2 = altBucket(b1, fp, mask)
    var i = 0
    while (i < SlotsPerBucket) {
      if (slot(b1, i) == fp || slot(b2, i) == fp) return true
      i += 1
    }
    stash.contains(fp.toShort)
  }

  /** Remove ONE copy of the key's fingerprint (delete of a member is
    * always effective; deleting a non-member may remove a colliding
    * entry — the standard cuckoo-filter caveat, callers delete only
    * keys they inserted, exactly like the reference withdrawing a seen
    * mark it set).
    */
  def delete(key: String): Boolean = {
    val fp = fingerprint(key)
    val b1 = bucket1(key, mask)
    val b2 = altBucket(b1, fp, mask)
    var i = 0
    while (i < SlotsPerBucket) {
      if (slot(b1, i) == fp) { setSlot(b1, i, Empty); count -= 1; return true }
      if (slot(b2, i) == fp) { setSlot(b2, i, Empty); count -= 1; return true }
      i += 1
    }
    stash.get(fp.toShort) match {
      case Some(n) =>
        stash = if (n > 1) stash.updated(fp.toShort, n - 1)
                else stash - fp.toShort
        count -= 1; true
      case None => false
    }
  }
}

object CuckooFilter {
  private val SlotsPerBucket = 4
  private val MaxKicks = 500
  private val Empty = 0

  /** Sized for `expected` keys at ~95% load over 4-slot buckets. */
  def create(expected: Long): CuckooFilter = {
    val needed = math.max(16L, math.ceil(expected / (SlotsPerBucket * 0.95)).toLong)
    val numBuckets = java.lang.Long.highestOneBit(needed * 2 - 1).toInt
    new CuckooFilter(numBuckets, new Array[Long](numBuckets), Map.empty, 0L)
  }

  /** 16-bit nonzero fingerprint (0 marks an empty slot). */
  private def fingerprint(key: String): Int = {
    val h = MurmurHash3.stringHash(key, 0x9747b28c) & 0xffff
    if (h == Empty) 1 else h
  }

  private def bucket1(key: String, mask: Int): Int =
    MurmurHash3.stringHash(key, 0x85ebca6b) & mask

  /** Partial-key cuckoo: alternate bucket from the fingerprint alone. */
  private def altBucket(b: Int, fp: Int, mask: Int): Int =
    (b ^ MurmurHash3.productHash((fp, 0x2545f491))) & mask
}
