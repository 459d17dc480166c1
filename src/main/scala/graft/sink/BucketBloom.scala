package graft.sink

/** Fixed-geometry Bloom filter over 64-bit hashes — the per-bucket
  * SECONDARY-column membership sidecar for [[TableManifest]] tables.
  *
  * Why it exists: a MergeSink table prunes point lookups on its MERGE
  * key for free (the key hashes to its bucket), and zone maps prune
  * RANGE predicates on columns correlated with layout — but a point
  * lookup on an uncorrelated secondary id (all orders of one customer
  * in an orderkey-bucketed table) defeats both: every bucket's min/max
  * spans the full id domain. A small per-(bucket, column) bloom answers
  * "might this bucket hold value v?" at the METADATA level, so the
  * reader lists only the buckets that might match — the Iceberg/Delta
  * bloom-index idea at bucket granularity. False positives cost only
  * an extra bucket scan (the residual filter discharges them); false
  * negatives are impossible over committed data because the sidecar is
  * built from the very files the commit publishes.
  *
  * Geometry: `mBits` bits (default 2^15 = 4 KiB per bucket-column —
  * ~1% false positives at ~3.4k distinct hashed values; size for
  * expected DISTINCT values per bucket, fpp ~= (1 - e^(-k*n/m))^k) and
  * `numHashes` probes derived from ONE 64-bit hash by Kirsch &
  * Mitzenmacher double hashing (g_i = h1 + i*h2 — two halves of the
  * input hash; published result: asymptotically as good as k
  * independent hashes).
  *
  * The input hash IS Spark's `xxhash64` (seed 42): the build side
  * computes it codegen'd inside the scan (tasks fold only the 64-bit
  * hashes into bitsets), and the probe side reproduces it on the driver
  * via the same public XXH64 kernel — one definition of the hash on
  * both sides, so a sidecar can never disagree with the engine.
  */
object BucketBloom {

  /** 2^15 bits = 4 KiB per (bucket, column) sidecar. */
  val DefaultBits: Int = 1 << 15

  /** Probe count; with the default geometry ~1% fpp at ~3.4k keys. */
  val DefaultHashes: Int = 5

  /** Seed of Spark's `xxhash64` SQL function — the probe side must
    * hash EXACTLY like the build side's codegen'd column.
    */
  private val XxSeed = 42L

  /** Driver-side twin of `xxhash64(lit(v))` for a BIGINT value. */
  def hashLong(v: Long): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(v, XxSeed)

  private def pos(h1: Int, h2: Int, i: Int, mBits: Int): Int =
    java.lang.Math.floorMod(h1 + i * h2, mBits)

  /** Set value-hash `h`'s bits in `bits` (mutates). */
  def add(bits: Array[Byte], numHashes: Int, h: Long): Unit = {
    val h1 = (h >>> 32).toInt; val h2 = h.toInt
    var i = 0
    while (i < numHashes) {
      val p = pos(h1, h2, i, bits.length << 3)
      bits(p >> 3) = (bits(p >> 3) | (1 << (p & 7))).toByte
      i += 1
    }
  }

  /** Membership probe: false = DEFINITELY absent (prune the bucket). */
  def mightContain(bits: Array[Byte], numHashes: Int, h: Long): Boolean = {
    val h1 = (h >>> 32).toInt; val h2 = h.toInt
    var i = 0
    while (i < numHashes) {
      val p = pos(h1, h2, i, bits.length << 3)
      if ((bits(p >> 3) & (1 << (p & 7))) == 0) return false
      i += 1
    }
    true
  }

  /** Union of two same-geometry bitsets into `a` (mutates; returns
    * `a`): how per-task partial sidecars combine — commutative,
    * associative and idempotent, so retried or re-split tasks build the
    * same bytes.
    */
  def or(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < a.length) { a(i) = (a(i) | b(i)).toByte; i += 1 }
    a
  }
}
