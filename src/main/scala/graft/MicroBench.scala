package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.Similarity

/** Micro-benchmark: higher-order-function dot product vs the native
  * codegen DotProduct expression, at a volume where per-row cost
  * dominates (the declared-query corpus is too small to separate them).
  * Run: sbt "runMain graft.MicroBench [rows] [dim]" */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(2000000L)
    val dim = args.lift(1).map(_.toInt).getOrElse(64)
    val spark = GraftSession.local()

    def vec(seed: Int) = transform(sequence(lit(1), lit(dim)),
      i => ((i * (col("id") + seed)) % 97).cast("float"))
    val df = spark.range(rows).select(vec(1).as("a"), vec(2).as("b")).cache()
    df.count() // materialize

    def time(label: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime(); f
      println(f"[microbench] $label%-8s ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    // warmup both
    df.limit(1000).select(sum(Similarity.dot(col("a"), col("b")))).collect()
    df.limit(1000).select(sum(VectorFunctions.dotNative(col("a"), col("b")))).collect()
    time("hof") { df.select(sum(Similarity.dot(col("a"), col("b")))).collect() }
    time("native") { df.select(sum(VectorFunctions.dotNative(col("a"), col("b")))).collect() }

    // lookup-sum: the quality-model margin (indices against a broadcast
    // weight-table literal, QualityModel.fit/gateInline) as the HOF
    // aggregate fold vs the native codegen LookupSum — the fold pays
    // interpreted lambda dispatch per FEATURE, the r14 6x finding.
    val wlit = typedLit((0 until 128).map(i => ((i * 41 + 7) % 2001 - 1000).toLong))
    val fdf = spark.range(rows).select(
      transform(sequence(lit(1), lit(dim)),
        i => ((i * (col("id") + 3)) % 128).cast("long")).as("f")).cache()
    fdf.count()
    def hofLookup(f: org.apache.spark.sql.Column) =
      aggregate(f, lit(0L), (acc, b) => acc + element_at(wlit, b.cast("int") + 1))
    fdf.limit(1000).select(sum(hofLookup(col("f")))).collect()
    fdf.limit(1000).select(sum(
      VectorFunctions.lookupSumNative(col("f"), wlit))).collect()
    time("lookup-hof") { fdf.select(sum(hofLookup(col("f")))).collect() }
    time("lookup-native") { fdf.select(sum(
      VectorFunctions.lookupSumNative(col("f"), wlit))).collect() }

    // k-class margins (the r15 fusion): k SEPARATE lookup-sum columns
    // carry k DISTINCT weight literals — CSE cannot fuse them, so each
    // row pays k feature-array traversals — vs ONE bucket-major
    // graft_lookup_sums pass (QualityModel.fitMulticlass/predictClass).
    val kCls = 5
    val wks = (0 until kCls).map(c => (0 until 128).map(i =>
      ((i * 41 + 11 * c + 7) % 2001 - 1000).toLong))
    val wflat = typedLit((0 until 128).flatMap(b =>
      (0 until kCls).map(c => wks(c)(b))))
    val sepCols = wks.map(w => sum(
      VectorFunctions.lookupSumNative(col("f"), typedLit(w))))
    val sumsCol = VectorFunctions.lookupSumsNative(col("f"), wflat, kCls)
    val fusedCols = (1 to kCls).map(c => sum(element_at(sumsCol, c)))
    fdf.limit(1000).select(sepCols: _*).collect()
    fdf.limit(1000).select(fusedCols: _*).collect()
    time("lookup-5sep") { fdf.select(sepCols: _*).collect() }
    time("lookup-5fused") { fdf.select(fusedCols: _*).collect() }
    fdf.unpersist()

    // featurization (the r16 kernel): hashed unigram+bigram buckets as
    // the HOF composition (zip_with bigrams + transform(md5) — lambda
    // dispatch per feature, HOF codegen fallback) vs the one-pass
    // native graft_feature_buckets — the dominant serving cost of the
    // quality-model family (q109/q140/q160/q165).
    val tdf = spark.range(rows / 8).select(
      transform(sequence(lit(1), lit(24)),
        i => concat(lit("tok"), ((i * (col("id") + 5)) % 997).cast("string")))
        .as("toks")).cache()
    tdf.count()
    import graft.operators.QualityModel
    tdf.limit(1000).select(sum(size(
      QualityModel.featureBucketsHof(col("toks"), 4096)))).collect()
    tdf.limit(1000).select(sum(size(
      QualityModel.featureBuckets(col("toks"), 4096)))).collect()
    time("featurize-hof") { tdf.select(sum(size(
      QualityModel.featureBucketsHof(col("toks"), 4096)))).collect() }
    time("featurize-native") { tdf.select(sum(size(
      QualityModel.featureBuckets(col("toks"), 4096)))).collect() }
    tdf.unpersist()

    // topTokenFrac: the shipped sorted-longest-run form vs the naive
    // distinct×scan form on pathologically long documents — the case the
    // O(d·n) shape stalls on (one 100k-token doc ≈ 2e9 comparisons).
    val docTokens = args.lift(2).map(_.toInt).getOrElse(20000)
    val docs = spark.range(32).select(
      transform(sequence(lit(1), lit(docTokens)),
        i => concat(lit("t"), ((i * (col("id") + 7)) % 5000).cast("string")))
        .as("toks")).cache()
    docs.count()
    def naiveTtf(tokens: org.apache.spark.sql.Column) = {
      val counts = transform(array_distinct(tokens),
        t => size(filter(tokens, x => x === t)))
      round(array_max(counts).cast("double") / size(tokens), 6)
    }
    // warmup both arms (planning + codegen) before timing
    docs.limit(1).select(operators.TextStats.topTokenFrac(col("toks"))).collect()
    docs.limit(1).select(naiveTtf(col("toks"))).collect()
    time("ttf-sorted") {
      docs.select(sum(operators.TextStats.topTokenFrac(col("toks")))).collect()
    }
    time("ttf-naive") {
      docs.select(sum(naiveTtf(col("toks")))).collect()
    }

    // XmlFields (one DOM parse, k XPath evals) vs k builtin xpath() calls
    // (k parses) — the detail-parse projection shape at a row count where
    // parse cost dominates.
    val xmlRows = args.lift(3).map(_.toLong).getOrElse(200000L)
    val xdf = spark.range(xmlRows).select(concat(
      lit("<doc href=\"/f"), col("id"), lit(".pdf\"><title>t"), col("id"),
      lit("</title><n>"), col("id") % 997,
      lit("</n><tag>a</tag><tag>b</tag></doc>")).as("xml")).cache()
    xdf.count()
    val paths = Seq("/doc/title/text()", "/doc/@href", "/doc/n/text()",
      "/doc/*/text()")
    def viaBuiltin = paths.zipWithIndex.map { case (p, i) =>
      xpath(col("xml"), lit(p)).as(s"p$i")
    }
    def viaShared = {
      val s = graft.functions.XmlFunctions.xmlFields(col("xml"), paths)
      paths.indices.map(i => s.getField(s"p$i").as(s"p$i"))
    }
    xdf.limit(1000).select(viaBuiltin: _*).write.format("noop").mode("overwrite").save()
    xdf.limit(1000).select(viaShared: _*).write.format("noop").mode("overwrite").save()
    time("xpath-builtin-4x") {
      xdf.select(viaBuiltin: _*).write.format("noop").mode("overwrite").save()
    }
    time("xpath-shared-1x") {
      xdf.select(viaShared: _*).write.format("noop").mode("overwrite").save()
    }

    // md5 bucket hash: native digest-window read (Md5Hash32) vs the
    // conv(substring(md5)) hex chain — same bits, minus three string
    // allocations + a radix parse per row. The chain is the per-feature
    // cost of every hashed-feature operator (q109/q111 featurize,
    // sampling buckets, minhash windows).
    val hashRows = args.lift(4).map(_.toLong).getOrElse(2000000L)
    val sdf = spark.range(hashRows)
      .select(concat(lit("key-"), col("id")).as("s")).cache()
    sdf.count()
    def chainHash = conv(substring(md5(col("s")), 1, 8), 16, 10).cast("long")
    def nativeHash = graft.functions.HashFunctions.md5Window(col("s"), 0)
    sdf.limit(1000).select(sum(chainHash)).collect()
    sdf.limit(1000).select(sum(nativeHash)).collect()
    time("md5-chain") { sdf.select(sum(chainHash)).collect() }
    time("md5-native") { sdf.select(sum(nativeHash)).collect() }

    // Batch ANN: one annSearchBatch job over Q queries vs Q sequential
    // annSearch jobs — the driver-loop shape the batch operator exists
    // to kill (each per-query job re-scans and re-buckets the corpus).
    val vecs = Tables.load(spark, "/root/testdata/sf0.01", "embeddings").cache()
    vecs.count()
    val qids = (1L to 16L)
    val queries = vecs.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec")).cache()
    queries.count()
    // warmup (bucketing + codegen)
    Similarity.annSearchBatch(vecs, "vec_id", "embedding",
      queries.limit(1), "qid", "qvec", probeDims = 8, nprobe = 8, k = 10).collect()
    time("ann-batch-16q") {
      Similarity.annSearchBatch(vecs, "vec_id", "embedding",
        queries, "qid", "qvec", probeDims = 8, nprobe = 8, k = 10).collect()
    }
    time("ann-loop-16q") {
      qids.foreach { q =>
        Similarity.annSearch(vecs, "vec_id", "embedding",
          vecs.filter(col("vec_id") === q).select(col("embedding").as("qvec")),
          "qvec", probeDims = 8, nprobe = 8, k = 10).collect()
      }
    }

    // Media header-parse throughput: the resolution/duration gate a
    // crawl pipeline runs on EVERY binary payload. 2M synthetic
    // PNG-headered and WAV-headered payloads; the parse is a codegen'd
    // static call, so rows/s here is the per-payload ceiling of the
    // metadata gate (payload generation is cached out of the timing).
    import graft.functions.ImageFunctions
    def be32c(c: org.apache.spark.sql.Column) = unhex(lpad(hex(c), 8, "0"))
    def le32c(c: org.apache.spark.sql.Column) = {
      val x = lpad(hex(c), 8, "0")
      unhex(concat(substring(x, 7, 2), substring(x, 5, 2),
        substring(x, 3, 2), substring(x, 1, 2)))
    }
    val media = spark.range(rows).select(
      concat(unhex(lit("89504E470D0A1A0A" + "0000000D" + "49484452")),
        be32c(col("id") % 640 + 1), be32c(col("id") % 480 + 1)).as("png"),
      concat(unhex(lit("52494646")), le32c(col("id") % 100000 + 36),
        unhex(lit("57415645" + "666D7420" + "10000000" + "01000100")),
        le32c(lit(16000)), le32c(lit(32000)), unhex(lit("02001000" + "64617461")),
        le32c(col("id") % 100000)).as("wav")).cache()
    media.count()
    media.limit(1000).select(ImageFunctions.imageDims(col("png"))).collect() // warmup
    time("image-dims-2M") {
      media.select(count(ImageFunctions.imageDims(col("png")))).collect()
    }
    time("any-audio-2M") {
      // the 5-parser coalesce: WAV matches first here, the other four
      // magic-gates reject in O(1)
      media.select(count(ImageFunctions.anyAudioMeta(col("wav"))
        .getField("sample_rate"))).collect()
    }
    // PQ search vs brute cosine at 500k × 64: the production PQ form —
    // codes MATERIALIZED (narrow small ints), codebook bounded, per
    // query one broadcast ADC table + one pass over the code table —
    // against the brute embedding-sized scan. Brute reads 500k × 64
    // floats and folds a 64-wide dot per row; PQ reads 500k × 4 ints
    // and sums 4 broadcast-looked-up doubles. Code/codebook build cost
    // is one-time layout work, cached out of the timing like the media
    // payloads above.
    val pqN = 500000L
    // +1 keeps every component in [1, 97] — ids with id+3 ≡ 0 (mod 97)
    // would otherwise synthesize an all-zero vector and the brute
    // cosine's norm division would ANSI-fail
    val pvec = transform(sequence(lit(1), lit(dim)),
      i => (((i * (col("id") + 3)) % 97) + 1).cast("float"))
    val pvecs = spark.range(pqN)
      .select(col("id"), pvec.as("v")).cache()
    pvecs.count()
    val pcodes = Similarity.pqCodes(pvecs, "id", "v", m = 4, subDim = 16,
        probeDims = 4)
      .select(col("id"), col("m"), col("code")).cache()
    pcodes.count()
    val pbook = Similarity.centroidMeans(Similarity.pqCodebook(
      Similarity.pqCodes(pvecs, "id", "v", 4, 16, 4))).cache()
    pbook.count()
    val pquery = pvecs.filter(col("id") === 1).select(col("v").as("qvec"))
    time("pq-adc-500k") {
      Similarity.pqAdcRank(pcodes,
        Similarity.pqAdcTable(pbook, pquery, "qvec", 4, 16), "id", 10)
        .collect()
    }
    time("brute-cos-500k") {
      Similarity.cosineTopK(pvecs, "id", "v", pquery, "qvec", 10).collect()
    }
    // the map-only twin's SEARCH stage: same cached-layout discipline as
    // pq-adc (wide codes materialized, ADC table collected to m dense
    // arrays) — zero shuffles vs the long form's per-id aggregation
    val pwide = Similarity.pqCodesWide(pvecs, "id", "v", 4, 16, 4).cache()
    pwide.count()
    val pdense = Similarity.pqAdcDense(
      Similarity.pqAdcTable(pbook, pquery, "qvec", 4, 16), 4, 4)
    time("pq-wide-500k") {
      Similarity.pqAdcRankWide(pwide, pdense, "id", 10).collect()
    }
    spark.stop()
  }
}
