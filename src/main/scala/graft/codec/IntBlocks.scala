package graft.codec

import scala.collection.mutable

/** Self-describing lightweight compression codecs over `Array[Int]`.
  *
  * Payload layout: `[codecId:1B][codec-specific body]`. Every format is
  * self-delimiting, so codecs nest (DICT/FSST embed an inner code-stream
  * payload) and a sequential `ByteReader` decodes without length prefixes.
  *
  * The five codec families required by the north rule (BASELINE.json:14):
  * dictionary, RLE, FSST-style symbol tables, bit-packing, frame-of-reference
  * (+ delta variant), plus a PLAIN fallback. Auto-selection is trial-based:
  * every applicable codec encodes and the smallest payload wins, so the
  * selector is exact by construction (FIXTURES.md §4's
  * `size(selected) <= min(size(others))` property holds trivially) and the
  * decision is recorded per block in the table manifest.
  */
object IntBlocks {

  val PLAIN = 0
  val BITPACK = 1
  val FOR = 2
  val DELTA_FOR = 3
  val RLE = 4
  val DICT = 5
  val FSST = 6
  val PFOR = 7

  val names: Map[Int, String] = Map(
    PLAIN -> "plain", BITPACK -> "bitpack", FOR -> "for", DELTA_FOR -> "delta_for",
    RLE -> "rle", DICT -> "dict", FSST -> "fsst", PFOR -> "pfor")

  val idOf: Map[String, Int] = names.map(_.swap)

  /** Distinct-value cap for dictionary building (beyond it DICT/FSST are not
    * candidates; the generic codecs still apply).
    */
  val DictCap = 65536

  /** Minimum block length before the FSST symbol-table build is attempted
    * (table construction must amortize over the block).
    */
  val FsstMinN = 1024

  final case class Choice(id: Int, bytes: Int, candidateSizes: Map[String, Long]) {
    def name: String = names(id)
  }

  // ---------------------------------------------------------------- encode

  def encodeWith(id: Int, values: Array[Int]): Array[Byte] = {
    val w = new ByteWriter(valuesHint(values.length))
    id match {
      case PLAIN     => encPlain(values, w)
      case BITPACK   => encBitpack(values, w)
      case FOR       => encFor(values, w)
      case DELTA_FOR => encDeltaFor(values, w)
      case RLE       => encRle(values, w)
      case DICT      => encDict(values, w)
      case FSST      => encFsst(values, w)
      case PFOR      => encPfor(values, w)
      case other     => throw new IllegalArgumentException(s"unknown codec id $other")
    }
    w.result()
  }

  def encodeAuto(values: Array[Int]): Array[Byte] = encodeAutoChoice(values)._1

  // --------------------------------------------- analytic candidate sizing
  //
  // The selector is still exact-trial-based (smallest payload wins, ties to
  // the lower codec id), but candidate sizes for the arithmetic codecs are
  // computed from one O(n) stats pass instead of materializing every
  // encoding: only the winner (and FSST, whose symbol table is inherently
  // constructive) allocates output bytes. Exactness is enforced by a
  // property test: exactSize(id, values) == encodeWith(id, values).length.
  //
  // The stats pass is the plain method `analyze`, which loops over locals
  // and builds its `Analysis` once at the end. It must not sit in a
  // constructor, a `locally` block or an argument expression: scalac then
  // leaves a value on the operand stack at the loop header, HotSpot cannot
  // OSR-compile a loop entered with a non-empty stack, and a pass that runs
  // once per block never earns a standard compile, so every block would be
  // scanned by the bytecode interpreter (BytecodeGuardSpec rejects the
  // shape).

  private def varLen(v: Long): Int = (63 - java.lang.Long.numberOfLeadingZeros(v | 1L)) / 7 + 1
  private def zzLen(v: Int): Int = varLen(((v << 1) ^ (v >> 31)) & 0xFFFFFFFFL)
  private def zzLenL(v: Long): Int = varLen((v << 1) ^ (v >> 63))

  private def analyze(values: Array[Int]): Analysis = {
    val n = values.length
    var min = Int.MaxValue
    var max = Int.MinValue
    var minD = Long.MaxValue
    var maxD = Long.MinValue
    var rleBody = 0L
    var i = 0
    var runStart = 0
    while (i < n) {
      val v = values(i)
      if (v < min) min = v
      if (v > max) max = v
      if (i > 0) {
        val d = v.toLong - values(i - 1).toLong
        if (d < minD) minD = d
        if (d > maxD) maxD = d
        if (v != values(i - 1)) {
          rleBody += zzLen(values(runStart)) + varLen(i - runStart)
          runStart = i
        }
      }
      i += 1
    }
    if (n > 0) rleBody += zzLen(values(runStart)) + varLen(n - runStart)
    new Analysis(values, min, max, minD, maxD, rleBody)
  }

  private final class Analysis(
      values: Array[Int], min: Int, max: Int, minD: Long, maxD: Long, rleBody: Long) {
    private val n: Int = values.length

    // sizes are Long: 4*n alone overflows Int at n > 2^29 tokens, well
    // below BlockAssembler's 2^31 guard — Int math here made the selector
    // compare garbage on giant hot-key blocks (ADVICE r1)
    def sizePlain: Long = 1L + varLen(n) + 4L * n
    def sizeBitpack: Option[Long] =
      if (n > 0 && min < 0) None
      else if (n == 0) Some(1L + varLen(n) + 1L) // width byte always written
      else Some(1L + varLen(n) + 1L + BitPack.packedBytes(n, BitPack.bits(max)))
    def sizeFor: Long =
      if (n == 0) 1L + varLen(n)
      else 1L + varLen(n) + zzLen(min) + 1L +
        BitPack.packedBytes(n, BitPack.bits(max.toLong - min.toLong))
    def sizeDeltaFor: Long =
      if (n == 0) 1L + varLen(n)
      else if (n == 1) 1L + varLen(n) + zzLen(values(0))
      else 1L + varLen(n) + zzLen(values(0)) + zzLenL(minD) + 1L +
        BitPack.packedBytes(n - 1, BitPack.bits(maxD - minD))
    def sizeRle: Long = 1L + varLen(n) + rleBody
  }

  /** Exact payload size of `id` over `values` without materializing it
    * (DICT/FSST return None — constructive only). Package-visible for the
    * exactness property test.
    */
  private[codec] def exactSize(id: Int, values: Array[Int]): Option[Long] = {
    val a = analyze(values)
    id match {
      case PLAIN => Some(a.sizePlain)
      case BITPACK => a.sizeBitpack
      case FOR => Some(a.sizeFor)
      case DELTA_FOR => Some(a.sizeDeltaFor)
      case RLE => Some(a.sizeRle)
      case PFOR => pforSize(values) // None ⇒ degenerates to FOR, never wins
      case _ => None
    }
  }

  /** Blocks at or above this token count size the CONSTRUCTIVE candidates
    * (DICT, FSST — the only trials that materialize payloads) on a
    * deterministic sample instead of the full block. Sampling-based codec
    * selection is the established design for big blocks (public knowledge:
    * BtrBlocks, Kuschewski et al., SIGMOD 2023); measured here, full
    * dict+fsst trials were ~65% of block-encode CPU at 442k-token blocks.
    * Small blocks (every spec fixture) keep exact trials.
    */
  val TrialSampleMinN: Int = 1 << 18
  private val TrialChunk = 8192
  private val TrialChunks = 8

  /** 8 contiguous 8192-token chunks at even strides — contiguity preserves
    * the n-gram structure FSST prices; stride coverage samples block-wide
    * value mix. Pure function of the block values (layout-independent).
    */
  private def trialSample(values: Array[Int]): Array[Int] = {
    val stride = values.length / TrialChunks
    val out = new Array[Int](TrialChunk * TrialChunks)
    var c = 0
    while (c < TrialChunks) {
      System.arraycopy(values, c * stride, out, c * TrialChunk, TrialChunk)
      c += 1
    }
    out
  }

  /** Select the smallest codec and materialize only the winner.
    * Deterministic: ties break toward the lower codec id. Candidate sizes
    * are exact for the analytic codecs always, and for DICT/FSST below
    * [[TrialSampleMinN]]; above it they are sample-extrapolated estimates
    * refined to the true size when the estimate wins (if the materialized
    * payload then loses to an exact candidate, selection falls back — the
    * committed payload is never worse than the best exact candidate).
    */
  def encodeAutoChoice(
      values: Array[Int],
      allowDict: Boolean = true,
      allowFsst: Boolean = true): (Array[Byte], Choice) = {
    val cands = candidateIds(values, allowDict, allowFsst)
    val a = analyze(values)
    val sizes = mutable.LinkedHashMap.empty[String, Long]
    var fsstPayload: Array[Byte] = null
    var dictPayload: Array[Byte] = null
    val sampledTrials = values.length >= TrialSampleMinN
    lazy val sample = trialSample(values)
    def estimate(id: Int): Long = {
      val s = encodeWith(id, sample)
      // ceil-scale by token count; fixed sections (dict, symbol table)
      // amortize better over the full block, so this slightly OVERestimates
      // — a conservative bias against the sampled candidates
      (s.length.toLong * values.length + sample.length - 1) / sample.length
    }
    cands.foreach {
      case PLAIN => sizes(names(PLAIN)) = a.sizePlain
      case BITPACK => a.sizeBitpack.foreach(sizes(names(BITPACK)) = _)
      case FOR => sizes(names(FOR)) = a.sizeFor
      case DELTA_FOR => sizes(names(DELTA_FOR)) = a.sizeDeltaFor
      case RLE => sizes(names(RLE)) = a.sizeRle
      case PFOR =>
        // budget-pruned: exact-size passes only run when PFOR can still
        // beat the cheapest analytic candidate computed so far
        val budget = if (sizes.isEmpty) Long.MaxValue else sizes.values.min
        pforSize(values, budget).foreach(sizes(names(PFOR)) = _)
      case DICT =>
        if (sampledTrials) sizes(names(DICT)) = estimate(DICT)
        else {
          dictPayload = encodeWith(DICT, values)
          sizes(names(DICT)) = dictPayload.length.toLong
        }
      case FSST =>
        if (sampledTrials) sizes(names(FSST)) = estimate(FSST)
        else {
          fsstPayload = encodeWith(FSST, values)
          sizes(names(FSST)) = fsstPayload.length.toLong
        }
    }
    def pickBest(): Int = {
      var bestId = -1
      var bestSize = Long.MaxValue
      cands.foreach { id =>
        sizes.get(names(id)).foreach { s =>
          if (s < bestSize) { bestSize = s; bestId = id }
        }
      }
      bestId
    }
    var bestId = pickBest()
    // a sampled-estimate winner must be materialized and re-judged on its
    // TRUE size before committing
    if (sampledTrials && (bestId == DICT || bestId == FSST)) {
      val full = encodeWith(bestId, values)
      sizes(names(bestId)) = full.length.toLong
      if (bestId == DICT) dictPayload = full else fsstPayload = full
      bestId = pickBest()
      // if the OTHER estimate now leads, judge it by truth too
      if (sampledTrials && ((bestId == DICT && dictPayload == null) ||
          (bestId == FSST && fsstPayload == null))) {
        val full2 = encodeWith(bestId, values)
        sizes(names(bestId)) = full2.length.toLong
        if (bestId == DICT) dictPayload = full2 else fsstPayload = full2
        bestId = pickBest()
      }
    }
    val best = bestId match {
      case FSST => fsstPayload
      case DICT => dictPayload
      case id => encodeWith(id, values)
    }
    (best, Choice(bestId, best.length, sizes.toMap))
  }

  private def candidateIds(values: Array[Int], allowDict: Boolean, allowFsst: Boolean): Seq[Int] = {
    val n = values.length
    if (n == 0) return Seq(PLAIN)
    var min = Int.MaxValue
    var max = Int.MinValue
    var i = 0
    while (i < n) {
      val v = values(i)
      if (v < min) min = v
      if (v > max) max = v
      i += 1
    }
    var distinctOk = false
    var d = 0
    if (allowDict || allowFsst) {
      val set = new java.util.HashSet[Integer](math.min(n, DictCap) * 2)
      i = 0
      var over = false
      while (i < n && !over) {
        set.add(values(i))
        if (set.size > DictCap) over = true
        i += 1
      }
      distinctOk = !over
      d = set.size
    }
    val b = Seq.newBuilder[Int]
    b += PLAIN
    if (min >= 0) b += BITPACK
    b += FOR
    b += DELTA_FOR
    b += RLE
    b += PFOR
    if (allowDict && distinctOk && d < n) b += DICT
    if (allowFsst && distinctOk && n >= FsstMinN) b += FSST
    b.result()
  }

  private def valuesHint(n: Int): Int = math.max(16, n / 2)

  // PLAIN: [id][vlen n][n * int32 LE]
  private def encPlain(values: Array[Int], w: ByteWriter): Unit = {
    w.putByte(PLAIN); w.putVarInt(values.length)
    var i = 0
    while (i < values.length) { w.putIntLE(values(i)); i += 1 }
  }

  // BITPACK (min >= 0): [id][vlen n][width:1B][packed]
  private def encBitpack(values: Array[Int], w: ByteWriter): Unit = {
    val n = values.length
    var max = 0L
    var i = 0
    while (i < n) { if (values(i) > max) max = values(i); if (values(i) < 0) throw new IllegalArgumentException("BITPACK requires non-negative values"); i += 1 }
    val width = BitPack.bits(max)
    w.putByte(BITPACK); w.putVarInt(n); w.putByte(width)
    BitPack.packInts(values, n, width, 0L, w)
  }

  // FOR: [id][vlen n][zz ref][width:1B][packed (v-ref)]
  private def encFor(values: Array[Int], w: ByteWriter): Unit = {
    val n = values.length
    w.putByte(FOR); w.putVarInt(n)
    if (n == 0) return
    var min = Int.MaxValue; var max = Int.MinValue
    var i = 0
    while (i < n) { val v = values(i); if (v < min) min = v; if (v > max) max = v; i += 1 }
    val width = BitPack.bits(max.toLong - min.toLong)
    w.putZigZagInt(min); w.putByte(width)
    BitPack.packInts(values, n, width, min.toLong, w)
  }

  // DELTA_FOR: [id][vlen n][zz first][zz minDelta][width:1B][packed (delta-minDelta) * (n-1)]
  private def encDeltaFor(values: Array[Int], w: ByteWriter): Unit = {
    val n = values.length
    w.putByte(DELTA_FOR); w.putVarInt(n)
    if (n == 0) return
    w.putZigZagInt(values(0))
    if (n == 1) return
    val deltas = new Array[Long](n - 1)
    var minD = Long.MaxValue; var maxD = Long.MinValue
    var i = 1
    while (i < n) {
      val d = values(i).toLong - values(i - 1).toLong
      deltas(i - 1) = d
      if (d < minD) minD = d
      if (d > maxD) maxD = d
      i += 1
    }
    val width = BitPack.bits(maxD - minD)
    w.putZigZagLong(minD); w.putByte(width)
    i = 0
    while (i < n - 1) { deltas(i) -= minD; i += 1 }
    BitPack.pack(deltas, n - 1, width, w)
  }

  // RLE: [id][vlen n][runs: (zz value, vlen len)*]
  private def encRle(values: Array[Int], w: ByteWriter): Unit = {
    val n = values.length
    w.putByte(RLE); w.putVarInt(n)
    var i = 0
    while (i < n) {
      val v = values(i)
      var j = i + 1
      while (j < n && values(j) == v) j += 1
      w.putZigZagInt(v); w.putVarInt(j - i)
      i = j
    }
  }

  /** Sorted strictly-increasing dictionary section: [vlen D][zz d0][vlen diff]* */
  private def writeDict(dict: Array[Int], w: ByteWriter): Unit = {
    w.putVarInt(dict.length)
    var i = 0
    while (i < dict.length) {
      if (i == 0) w.putZigZagInt(dict(0))
      else w.putVarLong(dict(i).toLong - dict(i - 1).toLong) // sorted => diff >= 1
      i += 1
    }
  }

  private def readDict(in: ByteReader): Array[Int] = {
    val d = in.getVarInt()
    val dict = new Array[Int](d)
    var i = 0
    while (i < d) {
      if (i == 0) dict(0) = in.getZigZagInt()
      else dict(i) = (dict(i - 1).toLong + in.getVarLong()).toInt
      i += 1
    }
    dict
  }

  private def sortedDistinct(values: Array[Int]): Array[Int] = {
    val set = new java.util.HashSet[Integer](math.min(values.length, DictCap) * 2)
    var i = 0
    while (i < values.length) { set.add(values(i)); i += 1 }
    val dict = new Array[Int](set.size)
    val it = set.iterator()
    i = 0
    while (it.hasNext) { dict(i) = it.next(); i += 1 }
    java.util.Arrays.sort(dict)
    dict
  }

  private def toDictIds(values: Array[Int], dict: Array[Int]): Array[Int] = {
    val idx = new java.util.HashMap[Integer, Integer](dict.length * 2)
    var i = 0
    while (i < dict.length) { idx.put(dict(i), i); i += 1 }
    val ids = new Array[Int](values.length)
    i = 0
    while (i < values.length) { ids(i) = idx.get(values(i)); i += 1 }
    ids
  }

  // DICT: [id][vlen n][dict][nested payload of dict ids]
  // Cascade (SURVEY.md E9): the id stream is itself auto-encoded
  // (bitpack / RLE / FOR / delta — whichever is smallest).
  private def encDict(values: Array[Int], w: ByteWriter): Unit = {
    val n = values.length
    w.putByte(DICT); w.putVarInt(n)
    val dict = sortedDistinct(values)
    writeDict(dict, w)
    val ids = toDictIds(values, dict)
    w.putBytes(encodeAutoChoice(ids, allowDict = false, allowFsst = false)._1)
  }

  // ------------------------------------------------------------------ PFOR
  //
  // Patched frame-of-reference (public knowledge: Zukowski et al.,
  // "Super-Scalar RAM-CPU Cache Compression", ICDE 2006): pack (v - min) at
  // a width covering the common case; outliers ("exceptions") are stored as
  // (position-gap varint, value varint) patches, so one stray large value
  // no longer inflates every slot's bit width the way plain FOR does.
  //
  // Body: [id][vlen n][zz ref][width:1B][vlen numEx]
  //       [packed n slots (exceptions packed as 0)][(vlen gap, vlen d)*]

  /** Exact best (width, exceptions, totalBytes); None when n == 0 or no
    * width with ≤ 25% exceptions beats packing everything (then FOR wins).
    */
  private def pforPlan(values: Array[Int], budget: Long = Long.MaxValue): Option[(Int, Int, Long)] = {
    val n = values.length
    if (n == 0) return None
    var min = Int.MaxValue
    var max = Int.MinValue
    var i = 0
    while (i < n) { val v = values(i); if (v < min) min = v; if (v > max) max = v; i += 1 }
    val maxB = BitPack.bits(max.toLong - min.toLong)
    if (maxB == 0) return None
    val cnt = new Array[Int](maxB + 1)
    i = 0
    while (i < n) { cnt(BitPack.bits(values(i).toLong - min.toLong)) += 1; i += 1 }

    val headBase = 1L + varLen(n) + zzLen(min) + 1L
    var best: Option[(Int, Int, Long)] = None
    var w = 0
    while (w < maxB) {
      var ex = 0
      var b = w + 1
      while (b <= maxB) { ex += cnt(b); b += 1 }
      // candidate only when patches are rare; optimistic bound prunes
      val optimistic = headBase + varLen(ex) +
        BitPack.packedBytes(n, w) + 2L * ex
      if (ex <= n / 4 && optimistic < budget && best.forall(optimistic < _._3)) {
        var exBytes = 0L
        var lastPos = -1
        i = 0
        while (i < n) {
          val d = values(i).toLong - min.toLong
          if (BitPack.bits(d) > w) {
            exBytes += varLen((i - lastPos).toLong) + varLen(d)
            lastPos = i
          }
          i += 1
        }
        val total = headBase + varLen(ex) +
          BitPack.packedBytes(n, w) + exBytes
        if (best.forall(total < _._3)) best = Some((w, ex, total))
      }
      w += 1
    }
    best
  }

  private[codec] def pforSize(values: Array[Int], budget: Long = Long.MaxValue): Option[Long] =
    pforPlan(values, budget).map(_._3)

  private def encPfor(values: Array[Int], w: ByteWriter): Unit = {
    val n = values.length
    w.putByte(PFOR); w.putVarInt(n)
    if (n == 0) return
    var min = Int.MaxValue
    var max = Int.MinValue
    var i = 0
    while (i < n) { val v = values(i); if (v < min) min = v; if (v > max) max = v; i += 1 }
    // degenerate plan: behave like FOR at full width
    val width = pforPlan(values).fold(BitPack.bits(max.toLong - min.toLong))(_._1)
    w.putZigZagInt(min); w.putByte(width)
    val slots = new Array[Long](n)
    var ex = 0
    i = 0
    while (i < n) {
      val d = values(i).toLong - min.toLong
      if (BitPack.bits(d) > width) { slots(i) = 0L; ex += 1 } else slots(i) = d
      i += 1
    }
    w.putVarInt(ex)
    BitPack.pack(slots, n, width, w)
    var lastPos = -1
    i = 0
    while (i < n) {
      val d = values(i).toLong - min.toLong
      if (BitPack.bits(d) > width) {
        w.putVarLong((i - lastPos).toLong); w.putVarLong(d)
        lastPos = i
      }
      i += 1
    }
  }

  // ------------------------------------------------------------------ FSST
  //
  // FSST-style symbol table adapted from byte-strings to int tokens: the
  // extended alphabet is [0, D) literal dictionary codes plus up to 256
  // pair-symbols built BPE-style over 3 rounds (so symbols expand to token
  // n-grams of length 2..8, per the north star's "repeated n-gram token
  // runs"). Deterministic: candidate pairs sort by (-count, left, right).
  //
  // Body: [id][vlen n][dict][vlen S][(vlen left, vlen right) * S]
  //       [vlen m][width:1B][packed m codes]
  private val FsstRounds = 3
  private val FsstMaxSymbols = 256
  private val FsstMinPairCount = 8

  /** Symbol-stream codes are non-negative, so a pair key is too and a
    * negative key can mark an empty [[PairMap]] slot.
    */
  private final val NoPair = -1L
  private def pairKey(l: Int, r: Int): Long = (l.toLong << 32) | (r.toLong & 0xFFFFFFFFL)

  /** Open-addressing map from a non-negative pair key to an Int, slotted
    * by the top bits of a Fibonacci multiply. Not a boxed
    * `HashMap[Long, Int]`: `Long.hashCode` folds a pair key to
    * `left ^ right`, so with a few hundred codes every pair shares a few
    * hundred hash values and the bins treeify.
    */
  private final class PairMap {
    private var shift = 64 - 10
    private var keys = emptyKeys(1 << 10)
    private var vals = new Array[Int](1 << 10)
    private var size = 0

    def capacity: Int = keys.length
    def keyAt(slot: Int): Long = keys(slot)
    def valueAt(slot: Int): Int = vals(slot)

    private def emptyKeys(cap: Int): Array[Long] = {
      val ks = new Array[Long](cap)
      java.util.Arrays.fill(ks, NoPair)
      ks
    }

    private def slotOf(key: Long): Int = {
      val mask = keys.length - 1
      var s = ((key * 0x9E3779B97F4A7C15L) >>> shift).toInt
      while (keys(s) != NoPair && keys(s) != key) s = (s + 1) & mask
      s
    }

    def get(key: Long, absent: Int): Int = {
      val s = slotOf(key)
      if (keys(s) == key) vals(s) else absent
    }

    def add(key: Long, delta: Int): Unit = {
      val s = slotOf(key)
      if (keys(s) == key) vals(s) += delta
      else {
        keys(s) = key; vals(s) = delta; size += 1
        if (2 * size > keys.length) grow()
      }
    }

    private def grow(): Unit = {
      val oldK = keys
      val oldV = vals
      shift -= 1
      keys = emptyKeys(oldK.length * 2)
      vals = new Array[Int](oldK.length * 2)
      var i = 0
      while (i < oldK.length) {
        if (oldK(i) != NoPair) {
          val s = slotOf(oldK(i))
          keys(s) = oldK(i); vals(s) = oldV(i)
        }
        i += 1
      }
    }
  }

  private def encFsst(values: Array[Int], w: ByteWriter): Unit = {
    val n = values.length
    w.putByte(FSST); w.putVarInt(n)
    val dict = sortedDistinct(values)
    writeDict(dict, w)
    var stream = toDictIds(values, dict)
    val d = dict.length
    var nextCode = d
    val symbols = mutable.ArrayBuffer.empty[(Int, Int)]

    var round = 0
    var changed = true
    while (round < FsstRounds && changed && symbols.size < FsstMaxSymbols) {
      changed = false
      // count adjacent pairs over the current symbol stream
      val counts = new PairMap()
      var i = 0
      while (i + 1 < stream.length) {
        counts.add(pairKey(stream(i), stream(i + 1)), 1)
        i += 1
      }
      val cands = mutable.ArrayBuffer.empty[(Int, Int, Int)] // (count, left, right)
      var slot = 0
      while (slot < counts.capacity) {
        val k = counts.keyAt(slot)
        if (k != NoPair && counts.valueAt(slot) >= FsstMinPairCount)
          cands += ((counts.valueAt(slot), (k >> 32).toInt, k.toInt))
        slot += 1
      }
      val picked = cands.sortBy { case (c, l, r) => (-c, l, r) }
        .take(FsstMaxSymbols - symbols.size)
      if (picked.nonEmpty) {
        changed = true
        val pairMap = new PairMap()
        picked.foreach { case (_, l, r) =>
          pairMap.add(pairKey(l, r), nextCode)
          symbols += ((l, r))
          nextCode += 1
        }
        // greedy left-to-right non-overlapping replacement
        val out = new Array[Int](stream.length)
        var oi = 0
        i = 0
        while (i < stream.length) {
          if (i + 1 < stream.length) {
            val code = pairMap.get(pairKey(stream(i), stream(i + 1)), -1)
            if (code >= 0) { out(oi) = code; oi += 1; i += 2 }
            else { out(oi) = stream(i); oi += 1; i += 1 }
          } else { out(oi) = stream(i); oi += 1; i += 1 }
        }
        stream = java.util.Arrays.copyOf(out, oi)
      }
      round += 1
    }

    w.putVarInt(symbols.length)
    symbols.foreach { case (l, r) => w.putVarInt(l); w.putVarInt(r) }
    val m = stream.length
    val width = BitPack.bits(math.max(0, nextCode - 1).toLong)
    w.putVarInt(m); w.putByte(width)
    BitPack.packInts(stream, m, width, 0L, w)
  }

  // ---------------------------------------------------------------- decode

  def decode(bytes: Array[Byte]): Array[Int] = decodeReader(new ByteReader(bytes))

  def decodeReader(in: ByteReader): Array[Int] = {
    val id = in.getByte()
    id match {
      case PLAIN =>
        val n = in.getVarInt()
        val out = new Array[Int](n)
        var i = 0
        while (i < n) { out(i) = in.getIntLE(); i += 1 }
        out

      case BITPACK =>
        val n = in.getVarInt()
        val width = in.getByte()
        val packed = BitPack.unpack(in, n, width)
        val out = new Array[Int](n)
        var i = 0
        while (i < n) { out(i) = packed(i).toInt; i += 1 }
        out

      case FOR =>
        val n = in.getVarInt()
        if (n == 0) return new Array[Int](0)
        val ref = in.getZigZagInt()
        val width = in.getByte()
        val packed = BitPack.unpack(in, n, width)
        val out = new Array[Int](n)
        var i = 0
        while (i < n) { out(i) = (packed(i) + ref).toInt; i += 1 }
        out

      case DELTA_FOR =>
        val n = in.getVarInt()
        if (n == 0) return new Array[Int](0)
        val out = new Array[Int](n)
        out(0) = in.getZigZagInt()
        if (n == 1) return out
        val minD = in.getZigZagLong()
        val width = in.getByte()
        val packed = BitPack.unpack(in, n - 1, width)
        var i = 1
        while (i < n) { out(i) = (out(i - 1).toLong + packed(i - 1) + minD).toInt; i += 1 }
        out

      case RLE =>
        val n = in.getVarInt()
        val out = new Array[Int](n)
        var i = 0
        while (i < n) {
          val v = in.getZigZagInt()
          val len = in.getVarInt()
          java.util.Arrays.fill(out, i, i + len, v)
          i += len
        }
        out

      case DICT =>
        val n = in.getVarInt()
        val dict = readDict(in)
        val ids = decodeReader(in)
        val out = new Array[Int](n)
        var i = 0
        while (i < n) { out(i) = dict(ids(i)); i += 1 }
        out

      case PFOR =>
        val n = in.getVarInt()
        if (n == 0) return new Array[Int](0)
        val ref = in.getZigZagInt()
        val width = in.getByte()
        val ex = in.getVarInt()
        val slots = BitPack.unpack(in, n, width)
        val out = new Array[Int](n)
        var i = 0
        while (i < n) { out(i) = (slots(i) + ref).toInt; i += 1 }
        var pos = -1
        var k = 0
        while (k < ex) {
          pos += in.getVarLong().toInt
          out(pos) = (in.getVarLong() + ref).toInt
          k += 1
        }
        out

      case FSST =>
        val n = in.getVarInt()
        val dict = readDict(in)
        val d = dict.length
        val s = in.getVarInt()
        val lefts = new Array[Int](s)
        val rights = new Array[Int](s)
        var i = 0
        while (i < s) { lefts(i) = in.getVarInt(); rights(i) = in.getVarInt(); i += 1 }
        // expansions built in code order (pairs only reference earlier codes)
        val exp = new Array[Array[Int]](s)
        i = 0
        while (i < s) {
          val l = lefts(i); val r = rights(i)
          val le = if (l < d) Array(dict(l)) else exp(l - d)
          val re = if (r < d) Array(dict(r)) else exp(r - d)
          val e = new Array[Int](le.length + re.length)
          System.arraycopy(le, 0, e, 0, le.length)
          System.arraycopy(re, 0, e, le.length, re.length)
          exp(i) = e
          i += 1
        }
        val m = in.getVarInt()
        val width = in.getByte()
        val codes = BitPack.unpack(in, m, width)
        val out = new Array[Int](n)
        var oi = 0
        i = 0
        while (i < m) {
          val c = codes(i).toInt
          if (c < d) { out(oi) = dict(c); oi += 1 }
          else {
            val e = exp(c - d)
            System.arraycopy(e, 0, out, oi, e.length)
            oi += e.length
          }
          i += 1
        }
        out

      case other => throw new IllegalArgumentException(s"unknown codec id $other")
    }
  }

  /** Byte range of the dictionary / symbol-table section for manifest
    * hashing ("dict/symbol-table hash", BASELINE.json:6). For codecs without
    * one, the whole payload is the hashed section.
    */
  def dictSectionHash(bytes: Array[Byte]): String = {
    val in = new ByteReader(bytes)
    val id = in.getByte()
    id match {
      case DICT | FSST =>
        in.getVarInt() // n
        val start = in.pos
        readDict(in)
        var end = in.pos
        if (id == FSST) {
          val s = in.getVarInt()
          var i = 0
          while (i < s) { in.getVarInt(); in.getVarInt(); i += 1 }
          end = in.pos
        }
        Hashing.sha256Hex(bytes, start, end - start)
      case _ => Hashing.sha256Hex(bytes)
    }
  }
}
