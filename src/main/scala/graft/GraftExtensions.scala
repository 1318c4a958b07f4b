package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.url.{CanonicalizeUrl, UrlHost, UrlKeys}

/**
 * SparkSessionExtensions entry point — registers the engine's native
 * Catalyst expressions so they are callable from SQL and from
 * `functions.call_function`. They are the only implementation of these
 * names (no UDF stands in for them), so every session that runs the engine
 * must install this class: [[Udfs.newSession]] sets
 * `spark.sql.extensions=graft.GraftExtensions`; another Spark program does the
 * same or calls `SparkSession.builder.withExtensions(new GraftExtensions)`.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(
      (FunctionIdentifier("canonicalize_url"),
        new ExpressionInfo(classOf[CanonicalizeUrl].getName, "canonicalize_url"),
        (args: Seq[Expression]) => CanonicalizeUrl(args.head)))
    ext.injectFunction(
      (FunctionIdentifier("url_host"),
        new ExpressionInfo(classOf[UrlHost].getName, "url_host"),
        (args: Seq[Expression]) => UrlHost(args.head)))
    ext.injectFunction(
      (FunctionIdentifier("url_keys"),
        new ExpressionInfo(classOf[UrlKeys].getName, "url_keys"),
        (args: Seq[Expression]) => UrlKeys(args.head)))
    ext.injectFunction(
      (FunctionIdentifier("topk_select"),
        new ExpressionInfo(classOf[graft.sched.TopKSelect].getName, "topk_select"),
        (args: Seq[Expression]) => graft.sched.TopKSelect(args(0), args(1), args(2), args(3))))
    ext.injectFunction(
      (FunctionIdentifier("cosine_sim"),
        new ExpressionInfo(classOf[graft.ann.CosineSim].getName, "cosine_sim"),
        (args: Seq[Expression]) => graft.ann.CosineSim(args(0), args(1))))
    ext.injectFunction(
      (FunctionIdentifier("extract_follows_rows"),
        new ExpressionInfo(classOf[graft.text.FollowsGenerator].getName, "extract_follows_rows"),
        (args: Seq[Expression]) => graft.text.FollowsGenerator(args(0), args(1))))
  }
}
