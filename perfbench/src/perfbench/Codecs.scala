package perfbench

import graft.codec.{ByteReader, IntBlocks, LongBlocks, PrimBlocks, StrBlocks}
import graft.table.{BlockAssembler, BlockInput}

/** Pure-JVM timing of the codec kernels and of block assembly, on value
  * blocks drawn from a workload's own data. No Spark involved.
  */
object Codecs {

  final case class Sample(
      ints: Seq[Array[Int]],
      strs: Seq[Array[String]],
      longs: Seq[Array[Long]],
      f64: Seq[Array[Double]],
      /** Rows of one token block, for `BlockAssembler.assemble`. */
      block: Seq[BlockInput])

  /** Rows of one in-memory block in the encoder's exchange format. */
  def blockOf(rows: Seq[(String, Array[Int], String)]): Seq[BlockInput] =
    rows.map { case (id, toks, src) =>
      BlockInput(0, 0L, id, IntBlocks.encodeWith(IntBlocks.FOR, toks), toks.length, src)
    }

  /** Repeat `f` over `blocks` until `budgetMs` passed (after one warm-up
    * pass); ns per value.
    */
  private def nsPerValue[A](blocks: Seq[A], values: A => Int, budgetMs: Double)(f: A => Any): Double = {
    if (blocks.isEmpty) return 0.0
    blocks.foreach(f)
    var n = 0L
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e6 < budgetMs) {
      blocks.foreach { b => f(b); n += values(b) }
    }
    (System.nanoTime() - t0).toDouble / math.max(1L, n)
  }

  def measure(s: Sample, budgetMs: Double = 150.0): Map[String, Double] = {
    val intEnc = s.ints.map(IntBlocks.encodeAutoChoice(_))
    val intVals = s.ints.map(_.length.toLong).sum
    val choices = intEnc.groupMapReduce(_._2.name)(_ => 1)(_ + _)
    val strEnc = s.strs.map(StrBlocks.encodeAuto)
    val longEnc = s.longs.map(LongBlocks.encodeAuto)
    val f64Enc = s.f64.map(PrimBlocks.encF64)
    val out = Map(
      "codec.int.enc_ns_per_value" ->
        nsPerValue[Array[Int]](s.ints, _.length, budgetMs)(IntBlocks.encodeAutoChoice(_)),
      "codec.int.dec_ns_per_value" ->
        nsPerValue[Array[Byte]](intEnc.map(_._1), IntBlocks.decode(_).length, budgetMs)(IntBlocks.decode),
      "codec.int.bytes_per_value" ->
        intEnc.map(_._1.length.toLong).sum.toDouble / math.max(1L, intVals),
      "codec.str.enc_ns_per_value" ->
        nsPerValue[Array[String]](s.strs, _.length, budgetMs)(StrBlocks.encodeAuto),
      "codec.str.dec_ns_per_value" ->
        nsPerValue[Array[Byte]](strEnc, StrBlocks.decode(_).length, budgetMs)(StrBlocks.decode),
      "codec.any.enc_ns_per_value" ->
        nsPerValue[Array[Long]](s.longs, _.length, budgetMs)(LongBlocks.encodeAuto),
      "codec.any.dec_ns_per_value" ->
        nsPerValue[Array[Byte]](longEnc, LongBlocks.decode(_).length, budgetMs)(LongBlocks.decode),
      "codec.f64.enc_ns_per_value" ->
        nsPerValue[Array[Double]](s.f64, _.length, budgetMs)(PrimBlocks.encF64),
      "codec.f64.dec_ns_per_value" ->
        nsPerValue[Array[Byte]](f64Enc, b => PrimBlocks.decF64(new ByteReader(b)).length,
          budgetMs)(b => PrimBlocks.decF64(new ByteReader(b))),
      "table.assemble_ns_per_row" ->
        nsPerValue[Seq[BlockInput]](Seq(s.block), _.length, budgetMs)(rows =>
          BlockAssembler.assemble(rows.iterator, 1, allowDict = true, allowFsst = true)
            .foreach(_ => ())))
    out ++ IntBlocks.names.values.map(n =>
      s"codec.int.choice.$n" -> choices.getOrElse(n, 0).toDouble / math.max(1, intEnc.length))
  }
}
