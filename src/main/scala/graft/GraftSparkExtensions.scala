package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.types.StringType

/** Library entry point for config-only deployment — no code changes in the
  * user's job, just:
  *
  * {{{
  * spark.sql.extensions=graft.GraftSparkExtensions
  * }}}
  *
  * Injects the engine's SQL surface into every session built over the
  * extension: scalar kernels (`dot_f`, `dot_fd`, `intersect_count_s`,
  * `md5_hash32`, `text_stats`, `normalize_text`, `repetition_stats`,
  * `word_gram_md5s`, `shingle_hash32s`), the composed text kernels
  * (`strip_html`, `anchor_text_chars`, `canonical_url`, `url_host`,
  * `quality_score`, `wordpiece_encode(text, ARRAY(...))`,
  * `c4_line_filter`, `contains_any_word(text, ARRAY(...))`,
  * `frame_md5s`, `merge_spans`, `scrub_spans` — same expression trees
  * as the Scala API, so the surfaces cannot drift), the table-valued
  * `redis_scan('glob')` / `redis_kv('glob')` / `redis_hash('glob')`
  * sources (the reference's primary syntax) and `redis_stream('key', ...)`
  * (`GraftRedis.tableFunctions`), the engine's optimizer rules
  * ([[GraftSparkExtensions.optimizerRules]]), the Redis lookup's
  * planner strategy, and the
  * `frame_dedup('<path>', idCol, binCol, frameBytes, everyK,
  * minJaccard)` table function (m06's whole pair plan over an at-rest
  * corpus).
  * `GraftRedis.registerSql` registers the same Redis table functions and
  * optimizer rules on an existing session.
  */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String): ExpressionInfo =
    new ExpressionInfo("graft", name)

  private def intArg(e: Expression, fn: String): Int = {
    val v = longArg(e, fn)
    if (v < Int.MinValue || v > Int.MaxValue)
      throw new IllegalArgumentException(s"$fn argument $v out of Int range")
    v.toInt
  }

  /** Integral literal → Long. Pattern-matches the evaluated value so a
    * BIGINT literal keeps its full range (the SQL surface must not narrow
    * `shingle_hash32s`' Long mod to Int) and a non-integral literal
    * (e.g. 5.0) gets a clear error instead of NumberFormatException.
    */
  /** Foldable string literal → String (fails loudly on anything else). */
  private def stringArg(e: Expression, fn: String): String = e match {
    case l if l.foldable && l.eval() != null => l.eval() match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case other => throw new IllegalArgumentException(
        s"$fn expects a string literal argument, got $other (${other.getClass.getSimpleName})")
    }
    case _ => throw new IllegalArgumentException(s"$fn expects a literal string argument")
  }

  private def longArg(e: Expression, fn: String): Long = e match {
    case l if l.foldable && l.eval() != null => l.eval() match {
      case i: java.lang.Integer => i.toLong
      case j: java.lang.Long => j.longValue()
      case s: java.lang.Short => s.toLong
      case b: java.lang.Byte => b.toLong
      case other => throw new IllegalArgumentException(
        s"$fn expects an integral literal argument, got $other (${other.getClass.getSimpleName})")
    }
    case _ => throw new IllegalArgumentException(s"$fn expects a literal integer argument")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("dot_f"), info("dot_f"),
      (es: Seq[Expression]) => graft.functions.DotProductF(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("dot_fd"), info("dot_fd"),
      (es: Seq[Expression]) => graft.functions.DotProductFD(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("intersect_count_s"), info("intersect_count_s"),
      (es: Seq[Expression]) => graft.functions.IntersectCountS(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("md5_hash32"), info("md5_hash32"),
      (es: Seq[Expression]) => graft.functions.Md5Hash32(es(0))))
    ext.injectFunction((FunctionIdentifier("text_stats"), info("text_stats"),
      (es: Seq[Expression]) =>
        graft.functions.TextStats(es(0), graft.operators.TextOps.DefaultStopwords)))
    ext.injectFunction((FunctionIdentifier("normalize_text"), info("normalize_text"),
      (es: Seq[Expression]) => graft.functions.NormalizeText(es(0))))
    ext.injectFunction((FunctionIdentifier("repetition_stats"), info("repetition_stats"),
      (es: Seq[Expression]) => graft.functions.RepetitionStats(es(0))))
    ext.injectFunction((FunctionIdentifier("word_gram_md5s"), info("word_gram_md5s"),
      (es: Seq[Expression]) =>
        graft.functions.WordGramMd5s(es(0), intArg(es(1), "word_gram_md5s"))))
    ext.injectFunction((FunctionIdentifier("shingle_hash32s"), info("shingle_hash32s"),
      (es: Seq[Expression]) => graft.functions.ShingleHash32s(es(0),
        intArg(es(1), "shingle_hash32s"), longArg(es(2), "shingle_hash32s"))))

    // composed text kernels exposed to SQL by round-tripping through the
    // Column shims: the SQL call builds the SAME expression tree the
    // Scala API builds, so the two surfaces cannot drift
    def composed1(name: String)(f: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Unit =
      ext.injectFunction((FunctionIdentifier(name), info(name),
        (es: Seq[Expression]) => org.apache.spark.sql.GraftSqlShims.analyzableExpression(
          f(org.apache.spark.sql.GraftSqlShims.column(es(0))))))
    composed1("strip_html")(graft.operators.TextOps.stripHtml)
    composed1("anchor_text_chars")(graft.operators.TextOps.anchorTextChars)
    composed1("canonical_url")(c => graft.operators.TextOps.canonicalUrl(c))
    composed1("url_host")(graft.operators.TextOps.urlHost)
    composed1("quality_score")(graft.operators.TextOps.qualityScore)
    composed1("scrub_pii")(c => graft.operators.TextOps.scrubPii(c))
    composed1("pii_counts")(graft.operators.TextOps.piiCounts)
    ext.injectFunction((FunctionIdentifier("wordpiece_encode"), info("wordpiece_encode"),
      (es: Seq[Expression]) =>
        graft.functions.WordPieceEncode(es(0), stringSeqArg(es(1), "wordpiece_encode"))))
    ext.injectFunction((FunctionIdentifier("repair_mojibake"), info("repair_mojibake"),
      (es: Seq[Expression]) => graft.functions.RepairMojibake(es(0))))
    ext.injectFunction((FunctionIdentifier("deflated_size"), info("deflated_size"),
      (es: Seq[Expression]) => graft.functions.DeflatedSize(es(0))))
    ext.injectFunction((FunctionIdentifier("simhash60"), info("simhash60"),
      (es: Seq[Expression]) => graft.functions.SimHash60(es(0))))
    // audio_fingerprint(bin) → the m11 spectral content key (0 when
    // undecodable), same kernel as the Scala seam
    ext.injectFunction((FunctionIdentifier("audio_fingerprint"), info("audio_fingerprint"),
      (es: Seq[Expression]) => graft.functions.AudioFingerprint(es(0))))
    ext.injectFunction((FunctionIdentifier("card_counts"), info("card_counts"),
      (es: Seq[Expression]) => graft.functions.CardCounts(es(0))))
    // scrub_cards(text[, token]) — the optional 2nd arg replaces the
    // default '<CARD>' redaction token; any other arity fails loudly
    // rather than silently ignoring what the caller passed
    ext.injectFunction((FunctionIdentifier("scrub_cards"), info("scrub_cards"),
      (es: Seq[Expression]) => {
        if (es.length < 1 || es.length > 2) throw new IllegalArgumentException(
          s"scrub_cards expects (text[, token]), got ${es.length} arguments")
        graft.functions.CardScrub(es(0),
          if (es.length == 2) stringArg(es(1), "scrub_cards") else "<CARD>")
      }))
    // bpe_encode(text, ARRAY('lhs rhs', ...)) — each merge as one
    // "lhs rhs" string, split at the FIRST space (unambiguous: symbols
    // come from space-split words, so a lhs never contains a space)
    ext.injectFunction((FunctionIdentifier("bpe_encode"), info("bpe_encode"),
      (es: Seq[Expression]) => graft.functions.BpeEncode(es(0),
        stringSeqArg(es(1), "bpe_encode").map { m =>
          val sp = m.indexOf(' ')
          if (sp <= 0 || sp == m.length - 1) throw new IllegalArgumentException(
            s"bpe_encode merge '$m' must be 'lhs rhs' (one space)")
          (m.substring(0, sp), m.substring(sp + 1))
        })))
    // unigram_encode(text, ARRAY('-1.5 piece', ...)) — each vocab entry
    // as one 'logprob piece' string, split at the FIRST space (pieces
    // come from space-split words, so a piece never contains a space)
    ext.injectFunction((FunctionIdentifier("unigram_encode"), info("unigram_encode"),
      (es: Seq[Expression]) => graft.functions.UnigramEncode(es(0),
        stringSeqArg(es(1), "unigram_encode").map { m =>
          val sp = m.indexOf(' ')
          if (sp <= 0 || sp == m.length - 1) throw new IllegalArgumentException(
            s"unigram_encode vocab entry '$m' must be 'logprob piece' (one space)")
          val lp = try m.substring(0, sp).toDouble catch {
            case _: NumberFormatException => throw new IllegalArgumentException(
              s"unigram_encode vocab entry '$m': '${m.substring(0, sp)}' is not a double")
          }
          (m.substring(sp + 1), lp)
        })))
    // round-10 kernels, same same-expression-tree guarantee:
    // c4_line_filter(text[, minWords]) → struct(n_lines, n_kept, kept)
    ext.injectFunction((FunctionIdentifier("c4_line_filter"), info("c4_line_filter"),
      (es: Seq[Expression]) => graft.functions.C4LineFilter(es(0),
        if (es.length > 1) intArg(es(1), "c4_line_filter") else 5)))
    // contains_any_word(text, ARRAY('w1', ...)) → boolean, token-exact
    ext.injectFunction((FunctionIdentifier("contains_any_word"), info("contains_any_word"),
      (es: Seq[Expression]) => org.apache.spark.sql.GraftSqlShims.analyzableExpression(
        graft.operators.TextOps.containsAnyWord(
          org.apache.spark.sql.GraftSqlShims.column(es(0)),
          stringSeqArg(es(1), "contains_any_word")))))
    // frame_md5s(bin, frameBytes, everyK) → sorted distinct frame-hash set
    ext.injectFunction((FunctionIdentifier("frame_md5s"), info("frame_md5s"),
      (es: Seq[Expression]) => graft.functions.FrameMd5s(es(0),
        intArg(es(1), "frame_md5s"), intArg(es(2), "frame_md5s"))))
    // scrub_spans(text, spans) → struct(clean_text, n_removed)
    ext.injectFunction((FunctionIdentifier("scrub_spans"), info("scrub_spans"),
      (es: Seq[Expression]) => graft.functions.ScrubSpans(es(0), es(1))))
    // merge_spans(sorted_pos, k) → merged span structs
    ext.injectFunction((FunctionIdentifier("merge_spans"), info("merge_spans"),
      (es: Seq[Expression]) => graft.functions.MergeSpans(es(0),
        intArg(es(1), "merge_spans"))))

    GraftRedis.tableFunctions.foreach { case (fn, builder) =>
      ext.injectTableFunction((FunctionIdentifier(fn), info(fn), builder))
    }
    // frame_dedup('<parquet path>', 'idCol', 'binCol', frameBytes,
    // everyK, minJaccard): m06's pair generator as a table function over
    // an at-rest corpus — the whole collapse + prefix-filter plan, built
    // by the same Scala operator (surfaces cannot drift)
    ext.injectTableFunction((FunctionIdentifier("frame_dedup"), info("frame_dedup"),
      (es: Seq[Expression]) => {
        if (es.length != 6) throw new IllegalArgumentException(
          "frame_dedup expects (path, idCol, binCol, frameBytes, everyK, minJaccard) literals")
        def str(e: Expression, what: String): String = e match {
          case s if s.foldable && s.dataType == StringType && s.eval() != null =>
            s.eval().toString
          case _ => throw new IllegalArgumentException(
            s"frame_dedup expects a literal string for $what")
        }
        val spark = SparkSession.active
        val df = spark.read.parquet(str(es(0), "path"))
        org.apache.spark.sql.GraftSqlShims.logicalPlan(
          graft.operators.MultimodalOps.frameDedupPairs(df,
            str(es(1), "idCol"), str(es(2), "binCol"),
            intArg(es(3), "frame_dedup"), intArg(es(4), "frame_dedup"),
            doubleArg(es(5), "frame_dedup")))
      }))

    // the round-10 planning/monitoring report forms as table functions
    // over at-rest parquet, each built by the SAME Scala operator (the
    // frame_dedup precedent — surfaces cannot drift):
    def strLit(e: Expression, fn: String, what: String): String = e match {
      case s if s.foldable && s.dataType == StringType && s.eval() != null =>
        s.eval().toString
      case _ => throw new IllegalArgumentException(
        s"$fn expects a literal string for $what")
    }
    // temperature_mix(path, idCol, textCol, srcCol, budgetTokens, alpha):
    // the α-smoothed source-sampled corpus view (d101's operator)
    ext.injectTableFunction((FunctionIdentifier("temperature_mix"), info("temperature_mix"),
      (es: Seq[Expression]) => {
        if (es.length != 6) throw new IllegalArgumentException(
          "temperature_mix expects (path, idCol, textCol, srcCol, budgetTokens, alpha)")
        val spark = SparkSession.active
        org.apache.spark.sql.GraftSqlShims.logicalPlan(
          graft.operators.CurationOps.temperatureMix(
            spark.read.parquet(strLit(es(0), "temperature_mix", "path")),
            strLit(es(1), "temperature_mix", "idCol"),
            strLit(es(2), "temperature_mix", "textCol"),
            strLit(es(3), "temperature_mix", "srcCol"),
            longArg(es(4), "temperature_mix"),
            doubleArg(es(5), "temperature_mix")))
      }))
    // mixture_plan(path, keyCol, tokensCol, weightCol, budgetTokens,
    // maxEpochs): the water-filling allocation table (d92's operator)
    // over a MIXTURE-sized sources table at rest
    ext.injectTableFunction((FunctionIdentifier("mixture_plan"), info("mixture_plan"),
      (es: Seq[Expression]) => {
        if (es.length != 6) throw new IllegalArgumentException(
          "mixture_plan expects (path, keyCol, tokensCol, weightCol, budgetTokens, maxEpochs)")
        val spark = SparkSession.active
        org.apache.spark.sql.GraftSqlShims.logicalPlan(
          graft.operators.CurationOps.mixturePlan(
            spark.read.parquet(strLit(es(0), "mixture_plan", "path")),
            strLit(es(1), "mixture_plan", "keyCol"),
            strLit(es(2), "mixture_plan", "tokensCol"),
            strLit(es(3), "mixture_plan", "weightCol"),
            longArg(es(4), "mixture_plan"),
            doubleArg(es(5), "mixture_plan")))
      }))
    // histogram_drift(pathA, pathB): KS/TV/PSI between two at-rest
    // quantile-histogram ledgers (d93's operator) — zero corpus access
    ext.injectTableFunction((FunctionIdentifier("histogram_drift"), info("histogram_drift"),
      (es: Seq[Expression]) => {
        if (es.length != 2) throw new IllegalArgumentException(
          "histogram_drift expects (pathA, pathB)")
        val spark = SparkSession.active
        org.apache.spark.sql.GraftSqlShims.logicalPlan(
          graft.operators.CurationOps.histogramDrift(spark,
            strLit(es(0), "histogram_drift", "pathA"),
            strLit(es(1), "histogram_drift", "pathB")))
      }))

    GraftSparkExtensions.optimizerRules.foreach(rule => ext.injectOptimizerRule(_ => rule))
    // the lookup node's planner; its SQL rule, `RedisLookup.Lift`, is added
    // with `redis_get`/`redis_hgetall` by `RedduckFunctions.registerAll`:
    // injected here it walked every plan in every optimizer iteration
    // (olap_pipeline op_ms_p50 +11% on 4 cores, 3 of 3 pairs) for calls
    // that a session without those functions cannot hold
    ext.injectPlannerStrategy(_ => graft.plans.RedisLookup.Planner)
  }

  /** Numeric literal → Double (integral literals widen). */
  private def doubleArg(e: Expression, fn: String): Double = e match {
    case l if l.foldable && l.eval() != null => l.eval() match {
      case d: java.lang.Double => d.doubleValue()
      case f: java.lang.Float => f.toDouble
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case i: java.lang.Integer => i.toDouble
      case j: java.lang.Long => j.toDouble
      case other => throw new IllegalArgumentException(
        s"$fn expects a numeric literal argument, got $other")
    }
    case _ => throw new IllegalArgumentException(s"$fn expects a numeric literal argument")
  }

  /** Literal ARRAY of strings (`ARRAY('a', 'b')` / `['a', 'b']`) — the
    * vocabulary argument of `wordpiece_encode`. Must fold at plan time:
    * the vocab becomes a codegen reference object, not a per-row value.
    */
  private def stringSeqArg(e: Expression, fn: String): Seq[String] = e match {
    case arr if arr.foldable && (arr.dataType match {
      case org.apache.spark.sql.types.ArrayType(StringType, _) => true
      case _ => false
    }) =>
      val data = arr.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      (0 until data.numElements()).map { i =>
        val v = data.getUTF8String(i)
        if (v == null) throw new IllegalArgumentException(s"$fn vocab must not contain NULL")
        v.toString
      }
    case _ => throw new IllegalArgumentException(
      s"$fn expects a literal ARRAY of strings as its vocabulary, e.g. " +
        s"$fn(text, ARRAY('a', '##a'))")
  }
}

object GraftSparkExtensions {
  /** The engine's optimizer rules, injected by the extension and added to
    * a session's extra optimizations by `GraftRedis.registerSql`.
    */
  val optimizerRules: Seq[org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]] = Seq(
    // `JOIN ... ON levenshtein(a,b) <= k` (a cartesian nested loop as
    // written) rewrites to the PassJoin blocking plan
    graft.plans.LevenshteinJoinRewrite,
    // built-in percentile/percentile_disc/percentile_cont/median
    // aggregates (per-group value-map buffering — the ObjectHash OOM
    // cliff at scale) rewrite to the distributed histogram-selection plan
    graft.plans.PercentileAggregateRewrite)
}
