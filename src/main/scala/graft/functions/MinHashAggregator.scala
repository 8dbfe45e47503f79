package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** The 64-permutation MinHash shared by [[MinHashAggregator]] (one input
  * row per shingle) and [[MinHashBands]] (one shingle array per row):
  * permutation i of a base hash h is `finalizeMix(h ^ seeds(i))`, the
  * splitmix64 finalizer over a fixed salt. Wrapping multiply is intended
  * and safe here, unlike in ANSI-mode SQL expressions. */
object MinHash {
  val K = 64

  // fixed per-seed salts (splitmix64 stream of a constant seed)
  val seeds: Array[Long] = {
    var x = 0x9E3779B97F4A7C15L
    Array.fill(K) { x = x + 0x9E3779B97F4A7C15L; finalizeMix(x) }
  }

  @inline def finalizeMix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Fold one base hash into the K running minima of `buf`. */
  @inline def fold(buf: Array[Long], h: Long): Unit = {
    var i = 0
    while (i < K) {
      val m = finalizeMix(h ^ seeds(i))
      if (m < buf(i)) buf(i) = m
      i += 1
    }
  }
}

/** Custom typed aggregate (SURVEY.md §4.3 — the one place built-ins run
  * out): 64-permutation MinHash in a single pass over a pre-hashed shingle
  * column.
  *
  * Input: xxhash64(shingle) longs (computed in a codegen'd projection).
  * Buffer: the 64 running minima, folded by [[MinHash.fold]]: 64
  * iterations of plain JVM long arithmetic per input row. Replaces a 64-seed higher-order-function pipeline whose
  * interpreted lambda evaluation cost ~350 s at sf0.1; this runs the same
  * data in ~2 s.
  *
  * Distributed shape: partial buffers combine with elementwise min, so
  * Catalyst plans partial aggregation before the shuffle — one 64-long
  * array per (partition, doc) crosses the wire, never the shingles.
  */
object MinHashAggregator extends Aggregator[Long, Array[Long], Seq[Long]] {
  override def zero: Array[Long] = Array.fill(MinHash.K)(Long.MaxValue)

  override def reduce(buf: Array[Long], h: Long): Array[Long] = {
    MinHash.fold(buf, h)
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < MinHash.K) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
    a
  }

  override def finish(buf: Array[Long]): Seq[Long] = buf.toSeq

  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
}
