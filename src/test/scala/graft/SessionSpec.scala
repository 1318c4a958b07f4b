package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.types.{ArrayType, FloatType}
import org.scalatest.funsuite.AnyFunSuite

/** Sessions carry the native expressions, and nothing stands in for them. */
class SessionSpec extends AnyFunSuite {
  import SparkTestSession.spark

  test("each kernel with a native twin resolves to its Catalyst class, not a UDF") {
    val s = Literal("http://h.com/")
    val vec = Literal.create(Seq(1f, 2f), ArrayType(FloatType))
    val expected: Seq[(String, Seq[Expression], Class[_])] = Seq(
      ("canonicalize_url", Seq(s), classOf[graft.url.CanonicalizeUrl]),
      ("url_host", Seq(s), classOf[graft.url.UrlHost]),
      ("url_keys", Seq(s), classOf[graft.url.UrlKeys]),
      ("topk_select", Seq(Literal(2), Literal(1), Literal(0.0), Literal(1L)),
        classOf[graft.sched.TopKSelect]),
      ("cosine_sim", Seq(vec, vec), classOf[graft.ann.CosineSim]),
      ("extract_follows_rows", Seq(Literal("<a href=x>x</a>"), s),
        classOf[graft.text.FollowsGenerator]))
    val registry = spark.sessionState.functionRegistry
    expected.foreach { case (name, args, cls) =>
      val id = FunctionIdentifier(name)
      assert(registry.lookupFunction(id).map(_.getClassName).contains(cls.getName), name)
      val built = registry.lookupFunction(id, args)
      assert(built.getClass == cls, s"$name built ${built.getClass.getName}")
    }
  }

  test("Udfs.register installs no stand-in: without the extensions a native name fails at analysis") {
    // a fresh session state on the same context, with canonicalize_url gone
    val bare = spark.newSession()
    bare.sessionState.functionRegistry.dropFunction(FunctionIdentifier("canonicalize_url"))
    Udfs.register(bare)
    assert(!bare.catalog.functionExists("canonicalize_url"))
    intercept[AnalysisException](bare.sql("SELECT canonicalize_url('http://h.com/')").collect())
  }
}
