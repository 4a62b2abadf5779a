package graft

import graft.functions._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SQL surface for the engine's native Catalyst expressions: registering
  * this class via `spark.sql.extensions=graft.GraftExtensions` (or
  * `SparkSession.builder().withExtensions(new GraftExtensions)`) makes the
  * extraction and sketch primitives first-class SQL functions, so a SQL-only
  * consumer (spark-sql shell, Thrift server, a notebook cell) can run the
  * whole extraction without touching the Scala API:
  *
  * {{{
  * SELECT doc_id, graft_extract_spans(spans, meta) AS spans FROM raw_docs
  * SELECT graft_minhash_shingles(text, 32, 3).sig FROM documents
  * }}}
  *
  * Scalar config arguments (hash counts, n-gram size) must be foldable
  * integer literals — they parameterize codegen, not per-row data — and are
  * checked at resolution time with a clear error instead of a ClassCastException.
  * Data arguments are type-checked at analysis too: every expression declares
  * its input types (`ExpectsInputTypes`), so a wrong-typed column fails the
  * query before any task runs.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def litInt(fn: String, arg: String)(e: Expression): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn: argument '$arg' must be an integer literal, got $other")
  }

  /** Usage text flows into `DESCRIBE FUNCTION` output (ADVICE r05: the
    * earlier form dropped the parameter, so every injected function
    * described itself with no signature). */
  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  override def apply(ext: SparkSessionExtensions): Unit = {
    def inject(name: String, usage: String)(builder: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name), info(name, usage), builder))

    inject("graft_extract_spans",
      "_FUNC_(spans, meta) - extracts the ordered content spans of one raw document: " +
        "strips boilerplate, resolves fields against `meta`, re-densifies offsets.") { args =>
      require(args.length == 2, "graft_extract_spans(spans, meta)")
      ExtractSpansExpr(args(0), args(1), annotate = false)
    }
    inject("graft_extract_spans_annotated",
      "_FUNC_(spans, meta) - like graft_extract_spans, with per-span metadata " +
        "annotations rendered into the text (the A4 surface).") { args =>
      require(args.length == 2, "graft_extract_spans_annotated(spans, meta)")
      ExtractSpansExpr(args(0), args(1), annotate = true)
    }
    inject("graft_span_nav",
      "_FUNC_(spans) - per-span navigation struct: heading path, depth, sibling range.") { args =>
      require(args.length == 1, "graft_span_nav(spans)")
      SpanNavExpr(args(0))
    }
    inject("graft_shingle_hashes",
      "_FUNC_(text, ngram) - distinct xxh64 hashes of the text's word `ngram`-shingles " +
        "(`ngram` must be an integer literal).") { args =>
      require(args.length == 2, "graft_shingle_hashes(text, ngram)")
      ShingleHashExpr(args(0), litInt("graft_shingle_hashes", "ngram")(args(1)))
    }
    inject("graft_minhash_sig",
      "_FUNC_(shingle_hashes, num_hashes) - MinHash signature (array of `num_hashes` " +
        "longs) over the array<bigint> that graft_shingle_hashes returns; equals " +
        "graft_minhash_shingles(text, num_hashes, ngram).sig " +
        "(`num_hashes` must be an integer literal).") { args =>
      require(args.length == 2, "graft_minhash_sig(shingle_hashes, num_hashes)")
      MinHashSigExpr(args(0), litInt("graft_minhash_sig", "num_hashes")(args(1)))
    }
    inject("graft_minhash_shingles",
      "_FUNC_(text, num_hashes, ngram) - one-pass struct(sig, sh): MinHash signature " +
        "plus the hash of every shingle, duplicates kept (both config args integer literals).") { args =>
      require(args.length == 3, "graft_minhash_shingles(text, num_hashes, ngram)")
      MinHashWithShinglesExpr(args(0),
        litInt("graft_minhash_shingles", "num_hashes")(args(1)),
        litInt("graft_minhash_shingles", "ngram")(args(2)))
    }
    inject("graft_rolling_fp",
      "_FUNC_(text) - 64-bit rolling-hash document fingerprint (whitespace-normalized).") { args =>
      require(args.length == 1, "graft_rolling_fp(text)")
      RollingHash64(args(0))
    }
    inject("graft_l2norm",
      "_FUNC_(vec) - L2 norm of a float array.") { args =>
      require(args.length == 1, "graft_l2norm(vec)")
      L2NormExpr(args(0))
    }
    inject("graft_rhp_sig",
      "_FUNC_(vec, bits) - packed random-hyperplane sign signature of an embedding: " +
        "word 0 of graft_rhp_multi_sig (`bits` must be an integer literal, up to 64).") { args =>
      require(args.length == 2, "graft_rhp_sig(vec, bits)")
      Similarity.rhpSignature(args(0), litInt("graft_rhp_sig", "bits")(args(1)))
    }
    inject("graft_rhp_multi_sig",
      "_FUNC_(vec, bits) - multi-word packed random-hyperplane signature " +
        "(array of longs, 64 sign bits per word) for wide LSH band keys " +
        "(`bits` must be an integer literal, up to 1024).") { args =>
      require(args.length == 2, "graft_rhp_multi_sig(vec, bits)")
      RhpMultiSigExpr(args(0), litInt("graft_rhp_multi_sig", "bits")(args(1)))
    }
  }
}
