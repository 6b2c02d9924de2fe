package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo,
  Literal}

/** `SparkSessionExtensions` hook exposing the native codegen kernels to
  * the SQL surface — `spark.sql("SELECT cosine_similarity(a, b) ...")`
  * and `hashed_shingles(text, k)` work in any session built with
  * `spark.sql.extensions=graft.functions.GraftExtensions` (SparkEnv
  * sets it), including statements routed through `LakeCatalog.sql` /
  * `GraftSql`. Injection happens at session build; the functions then
  * resolve and codegen exactly like built-ins — no UDF wrapping, no
  * registry mutation at call sites.
  *
  * [[GraftExtensions.register]] covers sessions NOT built through the
  * extension point (an external driver's own session, or `getOrCreate`
  * returning a pre-existing session, which silently drops the
  * extensions config): it installs the same builders into the live
  * session's function registry, idempotently.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  private[functions] def intArg(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) =>
      require(v == v.toInt, s"$fn: size argument $v out of Int range")
      v.toInt
    case other => throw new IllegalArgumentException(
      s"$fn: the size argument must be an integer literal, got $other")
  }

  private[functions] def function(name: String, cls: Class[_], params: String*)(
      build: Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
      (args: Seq[Expression]) => {
        require(args.length == params.length,
          params.mkString(s"$name(", ", ", ")"))
        build(args)
      })

  /** The injected (identifier, info, builder) triples — one source of
    * truth for both the build-time extension and live registration. The
    * ten text kernels come from their table, [[ShingleExpressions.all]].
    */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    function("cosine_similarity", classOf[CosineSimilarity], "a", "b")(a =>
      CosineSimilarity(a(0), a(1))),
    function("kmv_sketch", classOf[KmvAgg], "hashed", "k")(a =>
      KmvAgg(a(0), intArg(a(1), "kmv_sketch")).toAggregateExpression()),
    function("minhash_sketch", classOf[MinHashAgg], "hashed", "numHashes")(
      a => MinHashAgg(a(0), intArg(a(1), "minhash_sketch"))
        .toAggregateExpression())
  ) ++ ShingleExpressions.all.map(_.function)

  /** Install the functions into an already-built session (idempotent —
    * re-registration overwrites with identical builders).
    */
  def register(session: SparkSession): Unit =
    functions.foreach { case (id, info, builder) =>
      session.sessionState.functionRegistry
        .registerFunction(id, info, builder)
    }
}
