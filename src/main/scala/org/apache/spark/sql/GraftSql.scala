package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Package-facade to reach Spark 4's package-private Column <-> Expression
  * bridge (`classic.ExpressionUtils`) and the session function registry.
  * Same access pattern as the public Qbeast/Pathling facades
  * (SNIPPETS.md:70-95); no Spark internals are modified.
  */
object GraftSql {

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A DataFrame reading a connector `table` the caller built, planned as
    * `spark.read.format(...).load()` plans its table (`Dataset.ofRows` is
    * private[sql]).
    */
  def tableFrame(spark: SparkSession, table: connector.catalog.Table): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      execution.datasources.v2.DataSourceV2Relation.create(table, None, None))

  /** `a` with each nested nullability flag widened by `b`'s, as in a
    * union's output type (private[sql] in Spark).
    */
  def unionType(a: types.DataType, b: types.DataType): types.DataType =
    types.StructType.unionLikeMerge(a, b)

  /** Type equality ignoring nullability/case (private[sql] in Spark). */
  def sameType(a: types.DataType, b: types.DataType): Boolean = a.sameType(b)

  /** Non-blocking read of an Observation's metrics (`getOrEmpty` is
    * private[sql]): empty until the observed action's listener event has
    * been delivered, so callers can poll with a deadline instead of
    * risking `get`'s unbounded wait.
    */
  def observedOrEmpty(o: Observation): Map[String, Any] = o.getOrEmpty

  /** Register graft codec expressions as SQL functions so `selectExpr` /
    * `spark.sql` can call them: graft_encode(arr[, 'codec']),
    * graft_decode(bin), graft_decode_str(bin), graft_reslice(flat, lens).
    */
  def registerFunctions(spark: SparkSession): Unit = {
    val reg = spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry

    reg.createOrReplaceTempFunction("graft_encode", exprs => exprs match {
      case Seq(arr)        => graft.expr.GraftEncode(arr)
      case Seq(arr, codec) =>
        val name = codec.eval(null) match {
          case s: org.apache.spark.unsafe.types.UTF8String => s.toString
          case other => throw new IllegalArgumentException(s"codec name must be a string literal, got $other")
        }
        graft.expr.GraftEncode(arr, Some(name))
      case _ => throw new IllegalArgumentException("graft_encode(arr[, codec])")
    }, "built-in")

    reg.createOrReplaceTempFunction("graft_encode_str",
      exprs => graft.expr.GraftEncodeStr(exprs.head), "built-in")
    reg.createOrReplaceTempFunction("graft_codec",
      exprs => graft.expr.GraftCodecName(exprs.head), "built-in")
    reg.createOrReplaceTempFunction("graft_dict_hash",
      exprs => graft.expr.GraftDictHash(exprs.head), "built-in")
    reg.createOrReplaceTempFunction("graft_decode",
      exprs => graft.expr.GraftDecode(exprs.head), "built-in")
    reg.createOrReplaceTempFunction("graft_decode_str",
      exprs => graft.expr.GraftDecodeStr(exprs.head), "built-in")
    reg.createOrReplaceTempFunction("graft_reslice",
      exprs => graft.expr.GraftReslice(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_simhash",
      exprs => graft.expr.SimHash64(exprs.head), "built-in")
    reg.createOrReplaceTempFunction("graft_cosine",
      exprs => graft.expr.CosineSim(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_minhash", exprs => {
      val n = exprs(1).eval(null) match {
        case i: Int => i
        case other => throw new IllegalArgumentException(
          s"graft_minhash(arr, n): n must be an int literal, got $other")
      }
      graft.expr.MinHashSig(exprs.head, n)
    }, "built-in")

    def intLit(e: Expression, fn: String): Int = e.eval(null) match {
      case i: Int => i
      case other => throw new IllegalArgumentException(
        s"$fn: expected an int literal, got $other")
    }
    reg.createOrReplaceTempFunction("graft_hyperplane_sig", exprs =>
      graft.expr.HyperplaneSig(exprs.head,
        intLit(exprs(1), "graft_hyperplane_sig(vec, planes)")), "built-in")
    reg.createOrReplaceTempFunction("graft_hyperplane_bands", exprs =>
      graft.expr.HyperplaneBands(exprs.head,
        intLit(exprs(1), "graft_hyperplane_bands(vec, bands, rows)"),
        intLit(exprs(2), "graft_hyperplane_bands(vec, bands, rows)")), "built-in")
  }
}
