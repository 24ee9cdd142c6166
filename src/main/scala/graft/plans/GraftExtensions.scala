package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SparkSessionExtensions registration for the engine's custom Catalyst
  * expressions, so they are first-class SQL functions:
  *
  * {{{
  *   SparkSession.builder().withExtensions(new GraftExtensions)...
  *   spark.sql("SELECT simhash64(hashes), minhash_signature(hashes, 32) FROM t")
  * }}}
  *
  * Wired into [[graft.Sessions.builder]], so every engine session (Verify,
  * Bench, tests) exposes them. Static-argument parameters (k, n, w) must be
  * foldable integer literals — they parameterize codegen, not row data.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intArg(e: Expression, fn: String, pos: Int): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn: argument ${pos + 1} must be an integer literal, got $other")
  }

  /** Arity gate: positional args(i) on a wrong-arity call would otherwise
    * surface as a bare IndexOutOfBoundsException with no function name. */
  private def arity(fn: String, n: Int)(b: Seq[Expression] => Expression)
      : Seq[Expression] => Expression = { args =>
    if (args.size != n) throw new IllegalArgumentException(
      s"$fn expects $n argument(s), got ${args.size}")
    b(args)
  }

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("float_array_dot"),
      info("float_array_dot", "_FUNC_(a, b) - double dot product of two array<float>"),
      arity("float_array_dot", 2)(args => FloatArrayDot(args(0), args(1)))))

    ext.injectFunction((FunctionIdentifier("minhash_signature"),
      info("minhash_signature", "_FUNC_(hashes, k) - k-minima MinHash signature of array<bigint>"),
      arity("minhash_signature", 2)(args =>
        MinHashSignatureExpr(args(0), intArg(args(1), "minhash_signature", 1)))))

    ext.injectFunction((FunctionIdentifier("simhash64"),
      info("simhash64", "_FUNC_(hashes) - 64-bit majority-vote SimHash of array<bigint>"),
      arity("simhash64", 1)(args => SimHash64Expr(args(0)))))

    ext.injectFunction((FunctionIdentifier("ngram_hashes"),
      info("ngram_hashes", "_FUNC_(token_hashes, n) - distinct n-gram hashes from per-token hashes"),
      arity("ngram_hashes", 2)(args =>
        NgramHashesExpr(args(0), intArg(args(1), "ngram_hashes", 1)))))

    ext.injectFunction((FunctionIdentifier("rolling_fingerprints"),
      info("rolling_fingerprints", "_FUNC_(text, k, w) - winnowing fingerprint set of a string"),
      arity("rolling_fingerprints", 3)(args => RollingFingerprintsExpr(args(0),
        intArg(args(1), "rolling_fingerprints", 1),
        intArg(args(2), "rolling_fingerprints", 2)))))

    ext.injectFunction((FunctionIdentifier("nfc_normalize"),
      info("nfc_normalize", "_FUNC_(text) - Unicode NFC canonical composition (DuckDB parity)"),
      arity("nfc_normalize", 1)(args => NfcNormalizeExpr(args(0)))))

    ext.injectFunction((FunctionIdentifier("pair_array"),
      info("pair_array", "_FUNC_(arr) - canonical (a<b) pairs of distinct array<bigint> elements"),
      arity("pair_array", 1)(args => PairArray(args(0)))))

    ext.injectFunction((FunctionIdentifier("zorder2"),
      info("zorder2", "_FUNC_(x, y) - 32-bit Morton interleave of two ints' low 16 bits"),
      arity("zorder2", 2)(args => ZOrder2(args(0), args(1)))))

    // materialized-rollup query rewrite (no-op until a summary is
    // registered via RollupRewrite.register; idempotent, so safe inside
    // the fixed-point operator-optimization batch)
    ext.injectOptimizerRule(session => RollupRewriteRule(session))

    // SELECT ... FROM table_changes('txlog.`/root`', from [, to]): the
    // batch change feed as a table function
    ext.injectTableFunction((FunctionIdentifier("table_changes"),
      info("table_changes", "_FUNC_(table, from[, to]) - change feed " +
        "of a txlog table over the (from, to] version window"),
      args => graft.streaming.TxBatchReadRule(
        org.apache.spark.sql.SparkSession.active).tableChanges(args)))

    // MERGE / UPDATE / DELETE on txlog tables: Spark's resolved
    // row-level commands map onto the transactional front doors. Runs
    // before the read rule, which leaves a DML target in place for it
    ext.injectResolutionRule(session => TxDmlRule(session))

    // batch read path for spark.read.format("txlog") and txlog catalog
    // tables: substitutes the relation with the full readTable plan
    // (mapping projection, deletion-vector anti-join, TxFileIndex
    // pruning, time travel)
    ext.injectResolutionRule(session =>
      graft.streaming.TxBatchReadRule(session))

    // the txlog verbs Spark has no grammar for (OPTIMIZE, VACUUM,
    // RESTORE, DESCRIBE HISTORY|DETAIL, CONVERT TO TXLOG, SHOW
    // PARTITIONS); everything else delegates to Spark's parser untouched
    ext.injectParser((session, delegate) =>
      new GraftSqlParser(session, delegate))
  }
}
