package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.PHash64

/** Pins the two invariants behind the measured decode-seam memory
  * bound (SCALE.md §Round-15: the decode seam at the frame-size bound —
  * per-task memory ≲200 MB at 4096×4096×3, bounded by the FORMAT cap,
  * not the corpus), so a
  * future decoder edit cannot silently unbound the seam:
  *
  *  1. `parsePnm` enforces the 4096-per-dimension cap — the format
  *     ceiling every per-task volume argument rests on;
  *  2. the frame path allocates CONSTANT-size working buffers per
  *     frame (the 32×32 luma plane + DCT scratch, ~10 KB), never a
  *     w×h-scale plane — asserted directly via the JVM's per-thread
  *     allocation counter, frame-size-independent by construction.
  *
  * Pure JVM — no SparkSession. */
class DecodeBoundsSpec extends AnyFunSuite {

  /** Strict P5 payload: header + exactly w*h gray bytes. */
  private def p5(w: Int, h: Int): Array[Byte] = {
    val hdr = s"P5 $w $h 255\n".getBytes("US-ASCII")
    val out = new Array[Byte](hdr.length + w * h)
    System.arraycopy(hdr, 0, out, 0, hdr.length)
    var i = hdr.length
    while (i < out.length) { out(i) = ((i * 31) & 0xff).toByte; i += 1 }
    out
  }

  test("parsePnm enforces the 4096-per-dimension format cap") {
    assert(PHash64.parsePnm(p5(4096, 2)) != null,
      "4096 is the cap, inclusive")
    assert(PHash64.parsePnm(p5(4097, 2)) == null,
      "width over the cap must not parse")
    assert(PHash64.parsePnm(p5(2, 4097)) == null,
      "height over the cap must not parse")
    assert(PHash64.parsePnm(p5(0, 2)) == null, "zero dims must not parse")
    // the cap is what bounds a conforming payload's size — and with it
    // every buffer sized from parsed dims downstream of the parse
    assert(4096L * 4096L * 3L < 51L * 1024 * 1024,
      "format ceiling stays under ~50 MB per payload")
  }

  test("hashBand's working set is constant-size, not frame-size-scaled") {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    assume(mx.isInstanceOf[com.sun.management.ThreadMXBean],
      "per-thread allocation counter unavailable on this JVM")
    val smx = mx.asInstanceOf[com.sun.management.ThreadMXBean]
    assume(smx.isThreadAllocatedMemorySupported)
    val tid = Thread.currentThread().getId
    // a large frame: 4096×1024 gray band (4 MB payload). If the band
    // hash ever allocated a w×h-scale plane (the regression this spec
    // exists to catch — e.g. an Int plane at frame size is 16 MB), the
    // per-call allocation delta explodes past the bound below.
    val big = p5(4096, 1024)
    val hdr = PHash64.parsePnm(big)
    assert(hdr != null)
    def once(): Long =
      PHash64.hashBand(big, hdr.pixelOffset, hdr.width, hdr.height, 1)
    once() // warm: JIT + class-init allocations stay out of the window
    once()
    val a0 = smx.getThreadAllocatedBytes(tid)
    val h1 = once()
    val a1 = smx.getThreadAllocatedBytes(tid)
    val perCall = a1 - a0
    assert(perCall < 256 * 1024,
      s"hashBand allocated $perCall B for one 4096×1024 frame — the " +
        "32×32-plane discipline (constant ~10 KB scratch) was broken")
    // per-FRAME, not per-strip: k calls cost k × constant — nothing
    // accumulates across a filmstrip's frames beyond the payload itself
    val b0 = smx.getThreadAllocatedBytes(tid)
    var k = 0
    var acc = 0L
    while (k < 8) { acc ^= once(); k += 1 }
    val b1 = smx.getThreadAllocatedBytes(tid)
    assert(b1 - b0 < 8 * 256 * 1024,
      s"8 frame hashes allocated ${b1 - b0} B — per-strip buffer growth")
    assert(acc == 0L && h1 == once(), "hash must be deterministic")
  }
}
