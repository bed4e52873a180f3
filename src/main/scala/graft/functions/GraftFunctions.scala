package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Registration of graft's native expressions for SQL use.
  *
  * Two entry points:
  *  - `spark.sql.extensions=graft.functions.GraftExtensions` at session
  *    build (the standard extension-jar path), or
  *  - [[GraftFunctions.register]] on an already-built session.
  *
  * After either, `spark.sql("SELECT graft_dot(a, b) ...")` resolves to the
  * codegen [[DotProduct]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftFunctions.dotFunction)
    ext.injectFunction(GraftFunctions.lookupSumFunction)
    ext.injectFunction(GraftFunctions.lookupSumsFunction)
    ext.injectFunction(GraftFunctions.xmlFieldsFunction)
    ext.injectFunction(GraftFunctions.xmlLabeledLinksFunction)
    ext.injectFunction(GraftFunctions.mainContentFunction)
    ext.injectFunction(GraftFunctions.bpeFunction)
    ext.injectFunction(GraftFunctions.md5WindowFunction)
    ext.injectFunction(GraftFunctions.md5BucketFunction)
    ext.injectFunction(GraftFunctions.featureBucketsFunction)
    GraftFunctions.mediaFunctions.foreach(ext.injectFunction)
  }
}

object GraftFunctions {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.{ExpressionInfo, Literal}
  import org.apache.spark.sql.types.StringType

  private[functions] val dotBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => DotProduct(a, b)
    case other => throw new IllegalArgumentException(
      s"graft_dot expects 2 arguments, got ${other.size}")
  }

  /** The path arguments configure the expression (compiled once per
    * plan), so they must be string LITERALS — the same contract as the
    * builtin xpath()'s path argument. */
  private def litString(fn: String)(e: Expression): String = e match {
    case Literal(v, StringType) if v != null => v.toString
    case other => throw new IllegalArgumentException(
      s"$fn expects a string literal argument, got $other")
  }

  private[functions] val xmlFieldsBuilder: Seq[Expression] => Expression = {
    case xml +: rest if rest.nonEmpty =>
      XmlFields(xml, rest.map(litString("graft_xml_fields")))
    case other => throw new IllegalArgumentException(
      s"graft_xml_fields expects (xml, path, ...), got ${other.size} arguments")
  }

  /** Merge-table arguments are `'x y'` string literals in rank order —
    * model configuration, compiled once per plan like the xpath paths. */
  private[functions] val bpeBuilder: Seq[Expression] => Expression = {
    case word +: rest if rest.nonEmpty =>
      val merges = rest.map(litString("graft_bpe")).map { p =>
        p.split(' ') match {
          case Array(x, y) => (x, y)
          case _ => throw new IllegalArgumentException(
            s"graft_bpe merge literals are 'x y' pairs, got '$p'")
        }
      }
      BpeTokens(word, merges)
    case other => throw new IllegalArgumentException(
      s"graft_bpe expects (word, 'x y', ...), got ${other.size} arguments")
  }

  val bpeFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_bpe"),
      new ExpressionInfo(classOf[BpeTokens].getName, "graft_bpe"),
      bpeBuilder)

  private[functions] val xmlLabeledLinksBuilder: Seq[Expression] => Expression = {
    case Seq(xml, path, attr, labelAttr) =>
      val s = litString("graft_xml_labeled_links") _
      XmlLabeledLinks(xml, s(path), s(attr), s(labelAttr))
    case other => throw new IllegalArgumentException(
      s"graft_xml_labeled_links expects (xml, path, attr, label_attr), " +
        s"got ${other.size} arguments")
  }

  val dotFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      dotBuilder)

  private[functions] val lookupSumBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => LookupSum(a, b)
    case other => throw new IllegalArgumentException(
      s"graft_lookup_sum expects (indices, weights), got ${other.size} arguments")
  }

  val lookupSumFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_lookup_sum"),
      new ExpressionInfo(classOf[LookupSum].getName, "graft_lookup_sum"),
      lookupSumBuilder)

  /** k is expression configuration (an int literal, the Md5Hash32
    * window contract), not a data argument. */
  private[functions] val lookupSumsBuilder: Seq[Expression] => Expression = {
    case Seq(a, b, Literal(k: Int, org.apache.spark.sql.types.IntegerType)) =>
      LookupSums(a, b, k)
    case other => throw new IllegalArgumentException(
      "graft_lookup_sums expects (indices, bucket-major flat weights, " +
        s"table count k as an int literal), got ${other.size} arguments")
  }

  val lookupSumsFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_lookup_sums"),
      new ExpressionInfo(classOf[LookupSums].getName, "graft_lookup_sums"),
      lookupSumsBuilder)

  /** Raw digest window: the second argument is a digest-window INDEX 0–3
    * (an int literal — expression configuration, the xpath-path
    * contract), NOT a bucket count; defaults to window 0. */
  private[functions] val md5WindowBuilder: Seq[Expression] => Expression = {
    case Seq(s) => Md5Hash32(s, 0)
    case Seq(s, Literal(w: Int, org.apache.spark.sql.types.IntegerType)) =>
      Md5Hash32(s, w)
    case other => throw new IllegalArgumentException(
      "graft_md5_window expects (str[, digest-window index 0-3 as an int " +
        s"literal]), got $other")
  }

  /** Bucket hash: `graft_md5_window(s, 0) % buckets` — the SQL twin of
    * [[HashFunctions.md5Bucket]]. The two-arg surface takes a bucket
    * COUNT and applies the modulus (the r11 advisor flagged the old
    * graft_md5_bucket, which returned the raw window and treated the
    * second arg as a window index — an opaque trap for SQL callers). */
  private[functions] val md5BucketBuilder: Seq[Expression] => Expression = {
    case Seq(s, b) =>
      import org.apache.spark.sql.catalyst.expressions.{Cast, Remainder}
      import org.apache.spark.sql.types.LongType
      Remainder(Md5Hash32(s, 0), Cast(b, LongType))
    case other => throw new IllegalArgumentException(
      s"graft_md5_bucket expects (str, bucket-count), got ${other.size} arguments")
  }

  val md5WindowFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_md5_window"),
      new ExpressionInfo(classOf[Md5Hash32].getName, "graft_md5_window"),
      md5WindowBuilder)

  val md5BucketFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_md5_bucket"),
      new ExpressionInfo(classOf[Md5Hash32].getName, "graft_md5_bucket"),
      md5BucketBuilder)

  /** One-pass hashed unigram+bigram featurization — the bucket count
    * configures the expression, so it must be an int literal (the
    * md5-window contract). */
  private[functions] val featureBucketsBuilder: Seq[Expression] => Expression = {
    case Seq(toks, Literal(b: Int, org.apache.spark.sql.types.IntegerType)) =>
      FeatureBuckets(toks, b)
    case other => throw new IllegalArgumentException(
      "graft_feature_buckets expects (array<string> tokens, bucket-count " +
        s"int literal), got $other")
  }

  val featureBucketsFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_feature_buckets"),
      new ExpressionInfo(classOf[FeatureBuckets].getName, "graft_feature_buckets"),
      featureBucketsBuilder)

  val xmlFieldsFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_xml_fields"),
      new ExpressionInfo(classOf[XmlFields].getName, "graft_xml_fields"),
      xmlFieldsBuilder)

  val xmlLabeledLinksFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_xml_labeled_links"),
      new ExpressionInfo(classOf[XmlLabeledLinks].getName, "graft_xml_labeled_links"),
      xmlLabeledLinksBuilder)

  val mainContentFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_main_content"),
      new ExpressionInfo(classOf[HtmlMainContent].getName, "graft_main_content"),
      unary("graft_main_content", HtmlMainContent))

  private def unary(fn: String, mk: Expression => Expression): Seq[Expression] => Expression = {
    case Seq(e) => mk(e)
    case other => throw new IllegalArgumentException(
      s"$fn expects 1 argument, got ${other.size}")
  }

  /** The packed-long media header expressions, SQL-named after their
    * [[ImageFunctions]] column twins. Unpacking stays in SQL shift/mask
    * arithmetic on the returned long — the same layout
    * [[ImageFunctions.imageMeta]]/`unpackAudio`/`unpackVideo` decode
    * column-side. */
  private[functions] val mediaBuilders: Seq[(String, Class[_], Seq[Expression] => Expression)] =
    MediaHeader.Parsers.map { case (name, _, _) =>
      (s"graft_$name", classOf[MediaHeader]: Class[_],
        unary(s"graft_$name", MediaHeader(_, name)))
    } :+ ("graft_dhash", classOf[ImageDHash], unary("graft_dhash", ImageDHash))

  val mediaFunctions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    mediaBuilders.map { case (name, cls, builder) =>
      (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder)
    }

  /** Register all graft native functions on an existing session. */
  def register(spark: SparkSession): Unit = {
    ColumnBridge.registerExpression(spark, "graft_dot", dotBuilder)
    ColumnBridge.registerExpression(spark, "graft_lookup_sum", lookupSumBuilder)
    ColumnBridge.registerExpression(spark, "graft_lookup_sums", lookupSumsBuilder)
    ColumnBridge.registerExpression(spark, "graft_xml_fields", xmlFieldsBuilder)
    ColumnBridge.registerExpression(spark, "graft_xml_labeled_links",
      xmlLabeledLinksBuilder)
    ColumnBridge.registerExpression(spark, "graft_main_content",
      unary("graft_main_content", HtmlMainContent))
    ColumnBridge.registerExpression(spark, "graft_bpe", bpeBuilder)
    ColumnBridge.registerExpression(spark, "graft_md5_window", md5WindowBuilder)
    ColumnBridge.registerExpression(spark, "graft_md5_bucket", md5BucketBuilder)
    ColumnBridge.registerExpression(spark, "graft_feature_buckets",
      featureBucketsBuilder)
    ColumnBridge.registerExpression(spark, "graft_deflate_ratio",
      unary("graft_deflate_ratio", DeflateRatio))
    mediaBuilders.foreach { case (name, _, builder) =>
      ColumnBridge.registerExpression(spark, name, builder)
    }
  }
}
