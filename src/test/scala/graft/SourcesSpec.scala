package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.config.ConfigLoader
import graft.sources.{JdbcUpsert, Writers}

/** Source/sink surface: explicit-schema readers, partitioned writes, and
  * the versioned parquet-state merge (ON CONFLICT upsert analog). */
class SourcesSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String): String = TestSpark.tmpDir(prefix)

  test("partitioned write creates pruning directories") {
    val dir = tmp("part")
    val df = Seq(("es", 1L), ("de", 2L), ("es", 3L)).toDF("lang", "id")
    Writers.partitioned(df, dir, Seq("lang"))
    assert(Files.isDirectory(java.nio.file.Paths.get(dir, "lang=es")))
    val back = spark.read.parquet(dir)
    assert(back.filter(col("lang") === "es").count() == 2)
  }

  test("mergeState: versioned upsert with ON CONFLICT semantics") {
    val dir = tmp("state")
    assert(Writers.latestVersion(dir).isEmpty)

    val b1 = Seq(("k1", 1, "v1a"), ("k2", 1, "v2a")).toDF("pk", "batch", "payload")
    val s1 = Writers.mergeState(spark, dir, b1, Seq("pk"), col("batch"))
    assert(Writers.latestVersion(dir).contains(0L))
    assert(s1.count() == 2)

    // batch 2 updates k1, inserts k3; k2 untouched
    val b2 = Seq(("k1", 2, "v1b"), ("k3", 2, "v3a")).toDF("pk", "batch", "payload")
    val s2 = Writers.mergeState(spark, dir, b2, Seq("pk"), col("batch"))
    assert(Writers.latestVersion(dir).contains(1L))
    val got = s2.select("pk", "payload").as[(String, String)].collect().toMap
    assert(got == Map("k1" -> "v1b", "k2" -> "v2a", "k3" -> "v3a"))

    // the previous version is still readable (readers never see a torn state)
    assert(spark.read.parquet(s"$dir/v0").count() == 2)
  }

  test("mergeState: a torn state version (the committer's _temporary/ " +
    "only, no _SUCCESS) is not the latest version, and the next merge " +
    "overwrites it with the merge over the version before it") {
    val dir = tmp("tornstate")
    val b1 = Seq(("k1", 1, "v1a"), ("k2", 1, "v2a")).toDF("pk", "batch", "payload")
    Writers.mergeState(spark, dir, b1, Seq("pk"), col("batch"))
    val b2 = Seq(("k1", 2, "v1b"), ("k3", 2, "v3a")).toDF("pk", "batch", "payload")
    Writers.mergeState(spark, dir, b2, Seq("pk"), col("batch"))
    // a crash inside the third merge's write: Spark's committer created
    // v2 at job setup and never reached _SUCCESS
    Files.createDirectories(java.nio.file.Paths.get(dir, "v2", "_temporary", "0"))
    assert(Writers.latestVersion(dir).contains(1L))
    val b3 = Seq(("k2", 3, "v2b"), ("k4", 3, "v4a")).toDF("pk", "batch", "payload")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("pk", "batch", "payload").as[(String, Int, String)].collect().toSet
    val expected = rows(graft.operators.Upsert.merge(
      spark.read.parquet(s"$dir/v1"), b3, Seq("pk"), col("batch")))
    assert(rows(Writers.mergeState(spark, dir, b3, Seq("pk"), col("batch"))) ==
      expected)
    assert(Writers.latestVersion(dir).contains(2L))
    assert(rows(Writers.readState(spark, dir).get) == expected)
  }

  // --- JDBC upsert sink (reference storage.py:41-53,126-131) -----------

  private val storageYaml =
    """storage:
      |  raw:
      |    table: proyectos_raw
      |    primary_key: row_hash
      |    lookup_key: no_camara
      |    columns:
      |      no_camara: TEXT
      |      row_hash: "TEXT NOT NULL"
      |      last_seen: "TIMESTAMP NOT NULL DEFAULT NOW()"
      |  final:
      |    table: proyectos
      |    primary_key: row_hash
      |    lookup_key: no_camara
      |    columns:
      |      no_camara: TEXT
      |      titulo: TEXT
      |      documentos: JSONB
      |      row_hash: TEXT
      |""".stripMargin

  private def derby(db: String): String = {
    System.setProperty("derby.system.home", tmp("derby"))
    s"jdbc:derby:memory:$db;create=true"
  }

  private def query[A](url: String, sql: String)(f: java.sql.ResultSet => A): Vector[A] = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(sql)
      val out = Vector.newBuilder[A]
      while (rs.next()) out += f(rs)
      out.result()
    } finally conn.close()
  }

  private def exec(url: String, sql: String): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    try conn.createStatement().executeUpdate(sql) finally conn.close()
  }

  test("jdbc upsert: insert, conflicting re-upsert updates, excluded column untouched") {
    val raw = ConfigLoader.storageTable(storageYaml, "raw")
    assert(raw.insertColumns == Seq("no_camara", "row_hash")) // last_seen pruned
    val url = derby("rawdb")
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      JdbcUpsert.ensureTable(conn, raw, JdbcUpsert.AnsiMerge)
      JdbcUpsert.ensureTable(conn, raw, JdbcUpsert.AnsiMerge) // idempotent
    } finally conn.close()

    val b1 = Seq(("p1", "h1"), ("p2", "h2")).toDF("no_camara", "row_hash")
    JdbcUpsert.write(b1, url, raw, JdbcUpsert.AnsiMerge)
    val after1 = query(url, "SELECT no_camara, row_hash FROM proyectos_raw")(
      rs => (rs.getString(1), rs.getString(2))).toSet
    assert(after1 == Set(("p1", "h1"), ("p2", "h2")))
    // DB default filled the excluded column
    assert(query(url, "SELECT last_seen FROM proyectos_raw")(
      rs => rs.getTimestamp(1)).forall(_ != null))

    // plant a sentinel to prove the update set never touches last_seen
    exec(url, "UPDATE proyectos_raw SET last_seen = TIMESTAMP('2001-01-01 00:00:00')")

    // same PK h1 arrives with a different payload; h3 is new
    val b2 = Seq(("p1b", "h1"), ("p3", "h3")).toDF("no_camara", "row_hash")
    JdbcUpsert.write(b2, url, raw, JdbcUpsert.AnsiMerge)
    val after2 = query(url, "SELECT no_camara, row_hash FROM proyectos_raw")(
      rs => (rs.getString(1), rs.getString(2))).toSet
    assert(after2 == Set(("p1b", "h1"), ("p2", "h2"), ("p3", "h3")))
    val sentinels = query(url,
      "SELECT last_seen FROM proyectos_raw WHERE row_hash IN ('h1','h2')")(
      rs => rs.getTimestamp(1).toString)
    assert(sentinels.forall(_.startsWith("2001-01-01"))) // update pruned it
  }

  test("jdbc upsert: final-table semantics — ''→NULL strings, array→JSON text") {
    val fin = ConfigLoader.storageTable(storageYaml, "final")
    assert(fin.insertExclude.isEmpty)
    val url = derby("findb")
    val conn = java.sql.DriverManager.getConnection(url)
    try JdbcUpsert.ensureTable(conn, fin, JdbcUpsert.AnsiMerge)
    finally conn.close()

    val batch = Seq(
      ("p1", "  ", Seq("a.pdf", "b.pdf"), "h1"),
      ("p2", "ley", Seq.empty[String], "h2"),
      // control chars (CRLF, 0x01) must come out RFC-8259-escaped — raw
      // control bytes are invalid jsonb input and would fail the batch
      ("p3", "x", Seq("ley\r\nminera", "a\u0001b"), "h3")
    ).toDF("no_camara", "titulo", "documentos", "row_hash")
    JdbcUpsert.write(batch, url, fin, JdbcUpsert.AnsiMerge)
    val got = query(url,
      "SELECT row_hash, titulo, documentos FROM proyectos ORDER BY row_hash")(
      rs => (rs.getString(1), rs.getString(2), rs.getString(3)))
    assert(got == Vector(
      ("h1", null, "[\"a.pdf\",\"b.pdf\"]"),
      ("h2", "ley", "[]"),
      ("h3", "x", "[\"ley\\r\\nminera\",\"a\\u0001b\"]")))
  }

  test("jdbc upsert: prepare drops blank lookup keys and dedups by PK keep-first") {
    val raw = ConfigLoader.storageTable(storageYaml, "raw")
    val batch = Seq(
      ("p1", "h1", 1), ("p1-dup", "h1", 2), // same PK — keep first arrival
      ("  ", "h9", 1),                      // blank lookup key — dropped
      ("p2", "h2", 1)
    ).toDF("no_camara", "row_hash", "arrival")
    val got = JdbcUpsert.prepare(batch, raw,
      arrivalOrder = Seq(col("arrival").asc_nulls_first))
      .select("no_camara", "row_hash").as[(String, String)].collect().toSet
    assert(got == Set(("p1", "h1"), ("p2", "h2")))
  }

  test("jdbc upsert: postgres write path dedups a partition's PKs keep-first") {
    // a double-keyed batch under pgjdbc's reWriteBatchedInserts becomes a
    // multi-VALUES statement Postgres aborts ("cannot affect row a second
    // time") — the write path must never emit the same PK twice
    import org.apache.spark.sql.Row
    val rows = Iterator(
      Row("a", 1), Row("b", 2), Row("a", 3), Row(null, 4), Row(null, 5))
    val kept = JdbcUpsert.dedupByKey(rows, 0).toSeq
    assert(kept.map(_.get(1)) == Seq(1, 2, 4))
  }

  test("postings layout: driver-side tokenPartOf matches the engine's " +
    "tokenPart for every probe token (directory-addressing parity)") {
    import org.apache.spark.sql.functions.{col, lit}
    // ascii, unicode, empty-ish, hash-prefix-digit cases
    val toks = Seq("fast", "table", "café", "中文", "x",
      "0", "a b", "ZZZZ")
    val engine = spark.createDataFrame(toks.map(Tuple1(_))).toDF("token")
      .select(col("token"), Writers.tokenPart(col("token")).as("p"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    toks.foreach { t =>
      assert(Writers.tokenPartOf(t) == engine(t),
        s"tokenPart mismatch for '$t': driver=${Writers.tokenPartOf(t)} " +
          s"engine=${engine(t)}")
    }
  }

  test("ivfpq stored layout: probing the materialized index is " +
    "bit-identical to the live trained search (q162 ≡ q156)") {
    import graft.operators.Similarity
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.load(spark, dir, "embeddings")
    val query = emb.filter(col("vec_id") === 1)
      .select(col("embedding").as("qvec"))
    val live = Similarity.ivfPqSearchTrained(
      emb, "vec_id", "embedding", query, "qvec",
      emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec")),
      "cid", "cvec", nprobe = 3, k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val path = Writers.ensureIvfPqIndex(spark, dir)
    val stored = Similarity.ivfPqSearchStored(
      spark.read.parquet(s"$path/codes"),
      spark.read.parquet(s"$path/codebook"),
      spark.read.parquet(s"$path/centroids"),
      "vec_id", query, "qvec", nprobe = 3, k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(live.nonEmpty && stored == live)
  }

  test("trained ivfpq layout: probing the kmeans-trained stored index " +
    "is bit-identical to the live trained search over the same " +
    "centroid table (q166 ≡ ivfPqSearchTrained)") {
    import graft.operators.Similarity
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.load(spark, dir, "embeddings")
    val query = emb.filter(col("vec_id") === 1)
      .select(col("embedding").as("qvec"))
    val path = Writers.ensureIvfPqIndexTrained(spark, dir)
    val stored = Similarity.ivfPqSearchStored(
      spark.read.parquet(s"$path/codes"),
      spark.read.parquet(s"$path/codebook"),
      spark.read.parquet(s"$path/centroids"),
      "vec_id", query, "qvec", nprobe = 2, k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // the live arm consumes the layout's OWN centroid table — the
    // stored/live equivalence is about the codes+routing path, with
    // the trained artifact held fixed (its training is q164's gate)
    val live = Similarity.ivfPqSearchTrained(
      emb, "vec_id", "embedding", query, "qvec",
      spark.read.parquet(s"$path/centroids"), "cid", "cvec",
      nprobe = 2, k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(live.nonEmpty && stored == live)
  }

  test("routedNegativesStored: guards hold (no self, no same-label), " +
    "k rows per query, and at nprobe=all the candidate set is the " +
    "exact arm's — only the ADC-vs-cosine ranking differs") {
    import graft.operators.Similarity
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.load(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 3).select(
      col("vec_id").as("qid"), col("embedding").as("qvec"),
      col("label").as("qlabel"))
    val path = Writers.ensureIvfPqIndex(spark, dir)
    val stored = Similarity.routedNegativesStored(
      spark.read.parquet(s"$path/codes"),
      spark.read.parquet(s"$path/codebook"),
      spark.read.parquet(s"$path/centroids"),
      "vec_id", "label", queries, "qid", "qvec", "qlabel",
      nprobe = 8, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(stored.groupBy(_._1).forall(_._2.length == 10))
    val qlabels = queries.select("qid", "qlabel").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    stored.foreach { case (q, id, lab) =>
      assert(id != q, s"self-pair survived for query $q")
      assert(lab != qlabels(q), s"same-label negative for query $q")
    }
    // overlap with the exact-cosine arm: at nprobe=all both rank the
    // identical disqualified candidate set, so any divergence is the
    // documented ADC compression trade — it must still recall a usable
    // share of the true hardest negatives
    val exact = Similarity.hardNegatives(
      emb, "vec_id", "embedding", "label", queries,
      "qid", "qvec", "qlabel", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = stored.count { case (q, id, _) => exact.contains((q, id)) }
    assert(hits >= 6, s"stored arm recalled only $hits/30 exact negatives")
  }

  test("bm25 stored layout: probing the materialized tf/stats index is " +
    "bit-identical to the live form (q169 ≡ q28), and the layout " +
    "carries dl so no doclen join exists at probe time") {
    import graft.operators.Retrieval
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val terms = Seq("join", "filter", "scan")
    val live = Retrieval.bm25(docs, "doc_id", split(col("text"), " "), terms)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val path = Writers.ensureBm25Index(spark, dir)
    val pruned = Writers.prunedBm25Tf(spark, path, terms)
    val stored = Retrieval.bm25Stored(pruned,
        spark.read.parquet(s"$path/stats"), "doc_id", terms)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(live.nonEmpty && stored == live)
    assert(pruned.columns.toSet == Set("token", "doc_id", "tf", "dl"))
  }

  test("mergeBm25Index: slice-built + twice-merged layout equals the " +
    "from-scratch build (tf rows, exact stats), rewrites ONLY the " +
    "touched token directories, rejects non-new doc_ids, and treats an " +
    "empty batch as a no-op") {
    val docs = Seq(
      (0L, "alpha beta beta"),
      (1L, "beta gamma"),
      (2L, "alpha delta delta gamma"),
      (3L, "epsilon zeta"),
    ).toDF("doc_id", "text")
    val full = tmp("bm25full")
    val inc = tmp("bm25inc")
    Writers.writeBm25Index(docs, full)
    Writers.writeBm25Index(docs.filter(col("doc_id") < 2), inc)

    def partFiles(path: String): Map[String, Set[String]] = {
      val tf = java.nio.file.Paths.get(s"$path/tf")
      val dirs = java.nio.file.Files.list(tf).toArray.map(_.toString)
        .filter(_.contains("tok_part="))
      dirs.map { d =>
        d.split("tok_part=").last ->
          java.nio.file.Files.list(java.nio.file.Paths.get(d))
            .toArray.map(_.toString).filter(_.endsWith(".parquet")).toSet
      }.toMap
    }
    val before = partFiles(inc)
    // merge the two fresh slices one after the other (merge-onto-merged)
    Writers.mergeBm25Index(spark, inc, docs.filter(col("doc_id") === 2))
    Writers.mergeBm25Index(spark, inc, docs.filter(col("doc_id") === 3))
    val after = partFiles(inc)
    // segment-append proof: EVERY pre-existing file survives untouched
    // (the merge reads/rewrites nothing — cost strictly ∝ |fresh|), and
    // prefixes none of the fresh tokens land in gain no files at all
    assert(before.forall { case (p, files) => files.subsetOf(after(p)) },
      "merge rewrote pre-existing index files — the append contract broke")
    val freshPrefixes = Seq("alpha", "delta", "gamma", "epsilon", "zeta")
      .map(Writers.tokenPartOf).toSet
    val untouched = before.keySet.filterNot(freshPrefixes)
    assert(untouched.forall(p => after(p) == before(p)),
      s"untouched directories gained files: " +
        untouched.filter(p => after(p) != before(p)))

    def tfRows(path: String) = spark.read.parquet(s"$path/tf")
      .select("token", "doc_id", "tf", "dl", "tok_part")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSet
    assert(tfRows(inc) == tfRows(full), "merged tf rows != rebuilt tf rows")
    def stats(path: String) = spark.read.parquet(s"$path/stats")
      .select("n_docs", "avgdl", "sum_dl").head()
    val (si, sf) = (stats(inc), stats(full))
    assert(si.getLong(0) == sf.getLong(0))
    assert(si.getDouble(1) == sf.getDouble(1), "additive avgdl drifted")
    assert(si.getDecimal(2).compareTo(sf.getDecimal(2)) == 0)

    // misuse trap: a doc_id already in the index fails loudly
    val ex = intercept[IllegalArgumentException] {
      Writers.mergeBm25Index(spark, inc, docs.filter(col("doc_id") === 0))
    }
    assert(ex.getMessage.contains("delta split"))
    // empty fresh batch: layout byte-identical, stats unchanged
    Writers.mergeBm25Index(spark, inc, docs.filter(col("doc_id") < 0))
    assert(partFiles(inc) == after)
    assert(stats(inc).getLong(0) == sf.getLong(0))
  }

  test("ensureBm25IndexMerged: the incrementally-built corpus layout " +
    "probes bit-identical to the from-scratch ensureBm25Index layout") {
    import graft.operators.Retrieval
    val dir = "/root/testdata/sf0.001"
    val terms = Seq("join", "filter", "scan")
    def probe(path: String) = Retrieval.bm25Stored(
        Writers.prunedBm25Tf(spark, path, terms),
        spark.read.parquet(s"$path/stats"), "doc_id", terms)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val merged = probe(Writers.ensureBm25IndexMerged(spark, dir))
    val rebuilt = probe(Writers.ensureBm25Index(spark, dir))
    assert(merged.nonEmpty && merged == rebuilt)
  }

  test("compactPartitioned: accumulated segment files rewrite to ONE " +
    "file per directory with the exact same rows, stats untouched") {
    val docs = Seq(
      (0L, "alpha beta beta"), (1L, "beta gamma"),
      (2L, "alpha delta delta gamma"), (3L, "epsilon zeta"),
    ).toDF("doc_id", "text")
    val p = tmp("bm25compact")
    Writers.writeBm25Index(docs.filter(col("doc_id") < 2), p)
    Writers.mergeBm25Index(spark, p, docs.filter(col("doc_id") === 2))
    Writers.mergeBm25Index(spark, p, docs.filter(col("doc_id") === 3))
    def tfRows(path: String) = spark.read.parquet(s"$path/tf")
      .select("token", "doc_id", "tf", "dl", "tok_part")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSet
    val statsBefore = spark.read.parquet(s"$p/stats")
      .select("n_docs", "avgdl").head()
    val before = tfRows(p)
    Writers.compactPartitioned(spark, s"$p/tf", "tok_part")
    assert(tfRows(p) == before, "compaction changed the row set")
    val statsAfter = spark.read.parquet(s"$p/stats")
      .select("n_docs", "avgdl").head()
    assert(statsAfter.getLong(0) == statsBefore.getLong(0) &&
      statsAfter.getDouble(1) == statsBefore.getDouble(1))
    // the maintenance claim proper: one parquet file per directory
    val tfDir = java.nio.file.Paths.get(s"$p/tf")
    java.nio.file.Files.list(tfDir).toArray.map(_.toString)
      .filter(_.contains("tok_part=")).foreach { d =>
        val files = java.nio.file.Files.list(java.nio.file.Paths.get(d))
          .toArray.map(_.toString).count(_.endsWith(".parquet"))
        assert(files == 1, s"$d holds $files files after compaction")
      }
  }

  test("mergePostings: merged postings equal the from-scratch layout, " +
    "pre-existing files survive, non-new doc_ids are rejected") {
    val docs = Seq(
      (0L, "alpha beta beta"), (1L, "beta gamma"),
      (2L, "alpha delta delta gamma"), (3L, "epsilon zeta"),
    ).toDF("doc_id", "text")
    def postRows(path: String) = spark.read.parquet(path)
      .select("token", "doc_id", "pos", "tok_part")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    val full = tmp("postfull"); val inc = tmp("postinc")
    Writers.writePostings(spark, docs, full)
    Writers.writePostings(spark, docs.filter(col("doc_id") < 2), inc)
    // posting files only: the _gen sidecar is rewritten by every commit
    def allFiles(path: String) =
      java.nio.file.Files.walk(java.nio.file.Paths.get(path))
        .toArray.map(_.toString)
        .filter(f => f.endsWith(".parquet") && !f.contains("/_gen/")).toSet
    val before = allFiles(inc)
    Writers.mergePostings(spark, inc, docs.filter(col("doc_id") >= 2))
    assert(before.subsetOf(allFiles(inc)), "append rewrote existing files")
    assert(postRows(inc) == postRows(full), "merged != rebuilt postings")
    val ex = intercept[IllegalArgumentException] {
      Writers.mergePostings(spark, inc, docs.filter(col("doc_id") === 1))
    }
    assert(ex.getMessage.contains("delta split"))
  }

  test("mergeIvfPqIndex: merged codes equal a from-scratch encode against " +
    "the frozen artifacts, the padded codebook covers the whole code " +
    "space, and non-new ids are rejected") {
    import graft.operators.Similarity
    val dir = "/root/testdata/sf0.001"
    val path = Writers.ensureIvfPqIndexMerged(spark, dir)
    val stored = spark.read.parquet(s"$path/codes")
      .select("vec_id", "codes", "bucket")
    val rebuilt = Similarity.ivfPqEncode(
      Tables.load(spark, dir, "embeddings"), "vec_id", "embedding",
      spark.read.parquet(s"$path/centroids"))
      .select("vec_id", "codes", "bucket")
    assert(stored.count() > 0 &&
      stored.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(stored).isEmpty,
      "merged codes table != frozen-artifact rebuild")
    // origin-centroid fallback: every (m, code) slot of the (2p+1)^2
    // rectangle is defined, so an unseen-code fresh vector can never
    // hit an undefined ADC lookup
    val cbPairs = spark.read.parquet(s"$path/codebook")
      .select(col("m").cast("int"), col("code").cast("int"))
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    val rect = for (m <- 0 until 4; c <- 0 until 81) yield (m, c)
    assert(rect.toSet.subsetOf(cbPairs), "codebook padding left holes")
    val ex = intercept[IllegalArgumentException] {
      Writers.mergeIvfPqIndex(spark, path,
        Tables.load(spark, dir, "embeddings").filter(col("vec_id") === 1))
    }
    assert(ex.getMessage.contains("delta split"))
  }

  test("ensureModel: trains at most once per (corpus, params) and the " +
    "stored weight table round-trips exactly") {
    import org.apache.spark.sql.DataFrame
    val dir = "/root/testdata/sf0.001"
    var trains = 0
    def train: DataFrame = {
      trains += 1
      graft.operators.QualityModel.fixtureWeights(spark, 32)
    }
    val p1 = Writers.ensureModel(spark, dir, "spec-model", "32")(train)
    val p2 = Writers.ensureModel(spark, dir, "spec-model", "32")(train)
    assert(p1 == p2 && trains == 1, "second call must hit the cache")
    val stored = spark.read.parquet(p1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = graft.operators.QualityModel.fixtureWeights(spark, 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stored == direct)
    // a different params token is a different artifact
    val p3 = Writers.ensureModel(spark, dir, "spec-model", "64") {
      graft.operators.QualityModel.fixtureWeights(spark, 64)
    }
    assert(p3 != p1 && spark.read.parquet(p3).count() == 64)
  }

  test("deleteFromBm25Index: tombstoned probe equals a from-scratch build " +
    "over the complement (rows AND stats), delete is idempotent, absent " +
    "ids are no-ops, and emptying the index is refused") {
    import graft.operators.Retrieval
    val docs = Seq(
      (0L, "alpha beta beta"), (1L, "beta gamma"),
      (2L, "alpha delta delta gamma"), (3L, "epsilon zeta"),
    ).toDF("doc_id", "text")
    val del = tmp("bm25del")
    val comp = tmp("bm25delcomp")
    Writers.writeBm25Index(docs, del)
    Writers.writeBm25Index(docs.filter(col("doc_id") =!= 1), comp)
    assert(Writers.deleteFromBm25Index(spark, del,
      Seq(1L).toDF("doc_id")) == 1L)
    val terms = Seq("alpha", "beta", "gamma")
    def probe(path: String) = Retrieval.bm25Stored(
        Writers.prunedBm25Tf(spark, path, terms),
        spark.read.parquet(s"$path/stats"), "doc_id", terms)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(probe(del).nonEmpty && probe(del) == probe(comp),
      "tombstoned probe != complement rebuild")
    def stats(path: String) = spark.read.parquet(s"$path/stats")
      .select("n_docs", "avgdl", "sum_dl").head()
    val (sd, sc) = (stats(del), stats(comp))
    assert(sd.getLong(0) == sc.getLong(0))
    assert(sd.getDouble(1) == sc.getDouble(1), "subtractive avgdl drifted")
    assert(sd.getDecimal(2).compareTo(sc.getDecimal(2)) == 0)
    // idempotence: a re-delete plus an absent id subtract nothing,
    // tombstone nothing, and leave the probe untouched
    assert(Writers.deleteFromBm25Index(spark, del,
      Seq(1L, 99L).toDF("doc_id")) == 0L)
    assert(stats(del).getLong(0) == sc.getLong(0) &&
      stats(del).getDouble(1) == sc.getDouble(1))
    assert(probe(del) == probe(comp))
    // the last documents cannot be deleted away (no avgdl on empty)
    val ex = intercept[IllegalArgumentException] {
      Writers.deleteFromBm25Index(spark, del,
        Seq(0L, 2L, 3L).toDF("doc_id"))
    }
    assert(ex.getMessage.contains("empty"))
  }

  test("update lifecycle: delete + re-merge replaces a changed document " +
    "(generation stamps beat the tombstone), equals a from-scratch build " +
    "over the updated corpus, and re-merging a LIVE doc fails loudly") {
    import graft.operators.Retrieval
    val docs = Seq(
      (0L, "alpha beta beta"), (1L, "beta gamma"),
      (2L, "alpha delta delta gamma"), (3L, "epsilon zeta"),
    ).toDF("doc_id", "text")
    val upd = tmp("bm25upd")
    Writers.writeBm25Index(docs, upd)
    // a LIVE doc cannot be re-merged — update goes through delete first
    val ex = intercept[IllegalArgumentException] {
      Writers.mergeBm25Index(spark, upd,
        Seq((1L, "beta gamma alpha")).toDF("doc_id", "text"))
    }
    assert(ex.getMessage.contains("LIVE"))
    assert(Writers.deleteFromBm25Index(spark, upd,
      Seq(1L).toDF("doc_id")) == 1L)
    Writers.mergeBm25Index(spark, upd,
      Seq((1L, "beta gamma alpha alpha")).toDF("doc_id", "text"))
    val fresh = tmp("bm25updfresh")
    Writers.writeBm25Index(Seq(
      (0L, "alpha beta beta"), (1L, "beta gamma alpha alpha"),
      (2L, "alpha delta delta gamma"), (3L, "epsilon zeta"),
    ).toDF("doc_id", "text"), fresh)
    val terms = Seq("alpha", "beta", "gamma")
    def probe(path: String) = Retrieval.bm25Stored(
        Writers.prunedBm25Tf(spark, path, terms),
        spark.read.parquet(s"$path/stats"), "doc_id", terms)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(probe(upd).nonEmpty && probe(upd) == probe(fresh),
      "updated layout != from-scratch build over the updated corpus")
    // exactly ONE visible version of the updated doc, with the NEW dl
    val hits = Writers.prunedBm25Tf(spark, upd, Seq("beta"))
      .filter(col("doc_id") === 1).collect()
    assert(hits.length == 1 && hits.head.getAs[Long]("dl") == 4L)
  }

  test("compactBm25Index: folds tombstones into the physical layout — " +
    "visibility identical, dead rows gone from tf AND doclen, deletes/ " +
    "dropped, one file per directory in both partitioned legs") {
    val docs = Seq(
      (0L, "alpha beta beta"), (1L, "beta gamma"),
      (2L, "alpha delta delta gamma"), (3L, "epsilon zeta"),
    ).toDF("doc_id", "text")
    val p = tmp("bm25dc")
    Writers.writeBm25Index(docs.filter(col("doc_id") < 2), p)
    Writers.mergeBm25Index(spark, p, docs.filter(col("doc_id") === 2))
    Writers.mergeBm25Index(spark, p, docs.filter(col("doc_id") === 3))
    Writers.deleteFromBm25Index(spark, p, Seq(2L).toDF("doc_id"))
    val terms = Seq("alpha", "beta", "gamma", "delta")
    def visible() = Writers.prunedBm25Tf(spark, p, terms).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val before = visible()
    assert(before.nonEmpty && !before.exists(_._2 == 2L))
    Writers.compactBm25Index(spark, p)
    assert(visible() == before, "compaction changed row visibility")
    assert(!Files.isDirectory(java.nio.file.Paths.get(s"$p/deletes")),
      "tombstone table survived its own compaction")
    assert(spark.read.parquet(s"$p/tf")
      .filter(col("doc_id") === 2).count() == 0)
    assert(spark.read.parquet(s"$p/doclen")
      .filter(col("doc_id") === 2).count() == 0)
    for (leg <- Seq("tf", "doclen")) {
      Files.list(java.nio.file.Paths.get(s"$p/$leg")).toArray
        .map(_.toString).filter(_.contains("=")).foreach { d =>
          val n = Files.list(java.nio.file.Paths.get(d))
            .toArray.map(_.toString).count(_.endsWith(".parquet"))
          assert(n == 1, s"$d holds $n files after compaction")
        }
    }
  }

  test("describeBm25Index / maintainBm25Index: metadata-priced health " +
    "stats drive policy compaction — segment-count and dead-fraction " +
    "triggers fire, healthy layouts are no-ops") {
    val docs = Seq(
      (0L, "alpha beta beta"), (1L, "beta gamma"),
      (2L, "alpha delta delta gamma"), (3L, "epsilon zeta"),
    ).toDF("doc_id", "text")
    val p = tmp("bm25maint")
    Writers.writeBm25Index(docs.filter(col("doc_id") < 2), p)
    Writers.mergeBm25Index(spark, p, docs.filter(col("doc_id") === 2))
    Writers.mergeBm25Index(spark, p, docs.filter(col("doc_id") === 3))
    val i0 = Writers.describeBm25Index(spark, p)
    assert(i0.liveDocs == 4 && i0.doclenRows == 4 && i0.deadDocs == 0 &&
      i0.tombstoneRows == 0 && i0.nextGen == 3 && i0.deadFraction == 0.0)
    assert(i0.maxTfFilesPerDir >= 2,
      "two merges should have accumulated append segments")
    // healthy fraction + generous file cap: no-op
    assert(!Writers.maintainBm25Index(spark, p, maxDeadFraction = 0.2,
      maxFilesPerDir = 8))
    // segment-count trigger alone fires and folds segments to 1/dir
    assert(Writers.maintainBm25Index(spark, p, maxDeadFraction = 1.1,
      maxFilesPerDir = 1))
    assert(Writers.describeBm25Index(spark, p).maxTfFilesPerDir == 1)
    assert(!Writers.maintainBm25Index(spark, p, maxDeadFraction = 1.1,
      maxFilesPerDir = 1))
    // dead-version debt accumulates through deletes...
    Writers.deleteFromBm25Index(spark, p, Seq(2L, 3L).toDF("doc_id"))
    val i1 = Writers.describeBm25Index(spark, p)
    assert(i1.liveDocs == 2 && i1.doclenRows == 4 && i1.deadDocs == 2 &&
      i1.tombstoneRows == 2 && i1.deadFraction == 0.5)
    // ...below the threshold it stays a no-op...
    assert(!Writers.maintainBm25Index(spark, p, maxDeadFraction = 0.6))
    // ...above it the compaction fires and clears the debt
    assert(Writers.maintainBm25Index(spark, p, maxDeadFraction = 0.2))
    val i2 = Writers.describeBm25Index(spark, p)
    assert(i2.liveDocs == 2 && i2.doclenRows == 2 && i2.deadDocs == 0 &&
      i2.tombstoneRows == 0 && i2.maxTfFilesPerDir == 1)
  }

  test("ivfPqSearchStoredBatch: the one-scan batch equals a per-query " +
    "ivfPqSearchStored loop at every rank, collapses duplicate qids, " +
    "and rejects oversized batches") {
    import graft.operators.Similarity
    val dir = "/root/testdata/sf0.001"
    val path = Writers.ensureIvfPqIndex(spark, dir)
    val codes = spark.read.parquet(s"$path/codes")
    val book = spark.read.parquet(s"$path/codebook")
    val cents = spark.read.parquet(s"$path/centroids")
    val vecs = Tables.load(spark, dir, "embeddings")
    val queries = vecs.filter(col("vec_id").isin(1L, 2L, 3L))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val batch = Similarity.ivfPqSearchStoredBatch(
        codes, book, cents, "vec_id", queries, "qid", "qvec",
        nprobe = 3, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val perQuery = Seq(1L, 2L, 3L).flatMap { q =>
      Similarity.ivfPqSearchStored(codes, book, cents, "vec_id",
          vecs.filter(col("vec_id") === q)
            .select(col("embedding").as("qvec")),
          "qvec", nprobe = 3, k = 10)
        .collect().map(r => (q, r.getLong(0), r.getDouble(1)))
    }.toSet
    assert(batch.nonEmpty && batch == perQuery,
      "batch probe != per-query stored probe")
    // duplicate qids collapse to one ranking (the q168/q142 rule)
    val dup = Similarity.ivfPqSearchStoredBatch(
        codes, book, cents, "vec_id",
        queries.unionByName(queries.filter(col("qid") === 1)),
        "qid", "qvec", nprobe = 3, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(dup == batch)
    // each query's ADC tables are data, not generated code, so a
    // 300-qid batch compiles to the 3-qid batch's classes: it runs with
    // codegen fallback off, and its heads for qids 1-3 are the 3-qid
    // batch's
    val big = vecs.filter(col("vec_id") < 300)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val bigRows = TestSpark.codegenOnly {
      Similarity.ivfPqSearchStoredBatch(codes, book, cents, "vec_id",
          big, "qid", "qvec", nprobe = 3, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    }
    assert(bigRows.map(_._1).distinct.length == 300)
    assert(bigRows.filter(r => r._1 >= 1L && r._1 <= 3L).toSet == batch,
      "a qid's head depends on the rest of its batch")
    // NULL qids are dropped
    val withNull = queries.unionByName(
      spark.range(1).select(lit(null).cast("long").as("qid"),
        lit(null).cast("array<float>").as("qvec")))
    val nullDropped = Similarity.ivfPqSearchStoredBatch(
        codes, book, cents, "vec_id", withNull, "qid", "qvec",
        nprobe = 3, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(nullDropped == batch, "a null qid row moved the batch answer")
    // the driver-priced ceiling on distinct qids holds
    val exBig = intercept[IllegalArgumentException] {
      Similarity.ivfPqSearchStoredBatch(codes, book, cents, "vec_id",
        spark.range(Similarity.MaxQueryBatch + 1)
          .select(col("id").as("qid"),
            lit(null).cast("array<float>").as("qvec")),
        "qid", "qvec", nprobe = 3, k = 10)
    }
    assert(exBig.getMessage.contains("driver-priced"))
  }

  test("a codebook missing a (subspace, code) that a probed vector " +
    "realizes fails the stored single and batch probes loudly instead " +
    "of scoring the lookup 0") {
    import graft.operators.Similarity
    val dir = "/root/testdata/sf0.001"
    val path = Writers.ensureIvfPqIndex(spark, dir)
    val codes = spark.read.parquet(s"$path/codes")
    val cents = spark.read.parquet(s"$path/centroids")
    // a query probes its own bucket, so vector 1's subspace-0 code is
    // realized by a probed vector: drop that codebook row
    val own = codes.filter(col("vec_id") === 1L)
      .select(element_at(col("codes"), 1)).head().getInt(0)
    val book = spark.read.parquet(s"$path/codebook")
      .filter(!(col("m") === 0 && col("code") === own))
    val query = Tables.load(spark, dir, "embeddings")
      .filter(col("vec_id") === 1L)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def failsLoudly(probe: => org.apache.spark.sql.DataFrame): Unit = {
      val e = intercept[Exception](probe.collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(String.valueOf(_)).mkString("\n")
      assert(msgs.contains("ADC lookup hit a NaN slot"), msgs)
    }
    failsLoudly(Similarity.ivfPqSearchStored(codes, book, cents, "vec_id",
      query.select("qvec"), "qvec", nprobe = 3, k = 10))
    failsLoudly(Similarity.ivfPqSearchStoredBatch(codes, book, cents,
      "vec_id", query, "qid", "qvec", nprobe = 3, k = 10))
  }

  test("deleteFromPostings: tombstoned phrase probe equals the live form " +
    "over the complement corpus, re-delete is a no-op, and " +
    "compactPostings folds tombstones into the layout") {
    import graft.operators.Retrieval
    val dir = "/root/testdata/sf0.001"
    val phrase = Seq("fast", "table")
    val path = Writers.ensurePostingsDeleted(spark, dir)
    def probe(p: String) = Retrieval.phraseSearch(
        Writers.prunedPostings(spark, p, phrase), "doc_id", phrase)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val docs = Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % 7 =!= 3)
      .select(col("doc_id"),
        filter(split(col("text"), " "), t => t =!= "").as("toks"))
    val live = Retrieval.phraseSearch(
        Retrieval.invertedIndex(docs, "doc_id", col("toks")),
        "doc_id", phrase)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(probe(path).nonEmpty && probe(path) == live)
    // idempotent: re-deleting the same ids appends no tombstone rows
    val ids = Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % 7 === 3).select(col("doc_id"))
    val n = spark.read.parquet(s"$path/_deletes").count()
    Writers.deleteFromPostings(spark, path, ids)
    assert(spark.read.parquet(s"$path/_deletes").count() == n)
    // compaction on a COPY (the shared artifact keeps its tombstones
    // for q181's PlanLint pins): physical drop, probe unchanged
    val copy = tmp("postdelcopy")
    Writers.writePostings(spark, Tables.load(spark, dir, "documents"), copy)
    Writers.deleteFromPostings(spark, copy, ids)
    val before = probe(copy)
    Writers.compactPostings(spark, copy)
    assert(!Files.isDirectory(java.nio.file.Paths.get(s"$copy/_deletes")))
    assert(spark.read.parquet(copy)
      .filter(col("doc_id") % 7 === 3).count() == 0)
    assert(probe(copy) == before && before == live)
  }

  test("ivfpq delete: tombstoned ids vanish from the stored probe, " +
    "delete is idempotent, and compaction folds tombstones into the " +
    "codes layout without moving a result") {
    import graft.operators.Similarity
    val dir = "/root/testdata/sf0.001"
    // private copy — the shared ensureIvfPqIndexDeleted artifact must
    // keep its tombstone table for q178's PlanLint pins
    val p = tmp("ivfdel")
    val vecs = Tables.load(spark, dir, "embeddings")
    val coarse = vecs.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val (codes, book) = Similarity.ivfPqIndexTables(
      vecs, "vec_id", "embedding", coarse, "cid", "cvec", 4, 16, 4)
    Writers.writeIvfCodes(spark, codes, p)
    book.write.mode("overwrite").parquet(s"$p/codebook")
    coarse.write.mode("overwrite").parquet(s"$p/centroids")
    val q = vecs.filter(col("vec_id") === 1)
      .select(col("embedding").as("qvec"))
    def probe() = Similarity.ivfPqSearchStored(
        Writers.liveCodes(spark, p),
        spark.read.parquet(s"$p/codebook"),
        spark.read.parquet(s"$p/centroids"),
        "vec_id", q, "qvec", nprobe = 3, k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val full = probe()
    Writers.deleteFromIvfPqIndex(spark, p,
      vecs.filter(col("vec_id") % 5 === 2).select(col("vec_id")))
    val after = probe()
    assert(after.nonEmpty && after.forall { case (id, _) => id % 5 != 2 })
    assert(after != full, "the fixture head held no %5=2 id — weak fixture")
    // survivors keep their exact ADC distance (back-fill only)
    val fullMap = full.toMap
    assert(after.forall { case (id, d) =>
      !fullMap.contains(id) || fullMap(id) == d })
    // idempotent: re-deleting adds no tombstone rows
    val nTomb = spark.read.parquet(s"$p/deletes").count()
    Writers.deleteFromIvfPqIndex(spark, p,
      vecs.filter(col("vec_id") % 5 === 2).select(col("vec_id")))
    assert(spark.read.parquet(s"$p/deletes").count() == nTomb)
    Writers.compactIvfPqIndex(spark, p)
    assert(!Files.isDirectory(java.nio.file.Paths.get(s"$p/deletes")))
    assert(spark.read.parquet(s"$p/codes")
      .filter(col("vec_id") % 5 === 2).count() == 0)
    assert(probe() == after, "compaction moved a stored-probe result")
  }

  test("updateBm25Index: the fused one-flip verb lands the exact state " +
    "of the chained delete+merge, subsumes the add case (a changed doc " +
    "that is NEW just merges), and counts only replaced docs") {
    import graft.operators.Retrieval
    val terms = Seq("alpha", "beta", "gamma")
    val docs = Seq(0L -> "alpha beta beta", 1L -> "beta gamma",
      2L -> "alpha gamma gamma")
    val changed = Seq(1L -> "gamma gamma alpha", 3L -> "beta beta alpha")
    def probe(p: String) = Retrieval.bm25Stored(
        Writers.prunedBm25Tf(spark, p, terms),
        spark.read.parquet(s"$p/stats"), "doc_id", terms)
      .as[(Long, Long, Double)].collect().toSet
    // fused verb: doc 1 replaced (counted), doc 3 brand-new (pure add)
    val pF = tmp("bm25updfused")
    Writers.writeBm25Index(docs.toDF("doc_id", "text"), pF)
    assert(Writers.updateBm25Index(spark, pF,
      changed.toDF("doc_id", "text")) == 1L)
    // chained form: delete the live half, merge everything back
    val pC = tmp("bm25updchain")
    Writers.writeBm25Index(docs.toDF("doc_id", "text"), pC)
    Writers.deleteFromBm25Index(spark, pC, Seq(1L).toDF("doc_id"))
    Writers.mergeBm25Index(spark, pC, changed.toDF("doc_id", "text"))
    assert(probe(pF).nonEmpty && probe(pF) == probe(pC),
      "fused update != chained delete+merge")
    // and both equal the from-scratch build over the updated corpus
    val pR = tmp("bm25updref")
    Writers.writeBm25Index(
      Seq(0L -> "alpha beta beta", 1L -> "gamma gamma alpha",
        2L -> "alpha gamma gamma", 3L -> "beta beta alpha")
        .toDF("doc_id", "text"), pR)
    assert(probe(pF) == probe(pR), "fused update != rebuild")
    // stats row identical too (exact decimals, one-flip counter at +2)
    val stF = spark.read.parquet(s"$pF/stats")
      .select(col("n_docs"), col("avgdl"), col("sum_dl")).head()
    val stR = spark.read.parquet(s"$pR/stats")
      .select(col("n_docs"), col("avgdl"), col("sum_dl")).head()
    assert(stF == stR)
    assert(spark.read.parquet(s"$pF/stats")
      .select(col("next_gen")).head().getLong(0) == 3L,
      "the fused verb must advance the counter by exactly 2 in 1 flip")
    // empty batch: no-op, no flip
    assert(Writers.updateBm25Index(spark, pF,
      Seq.empty[(Long, String)].toDF("doc_id", "text")) == 0L)
    assert(spark.read.parquet(s"$pF/stats")
      .select(col("next_gen")).head().getLong(0) == 3L)
  }

  test("reindexIvfPqIndex: atomic cutover to re-trained artifacts — the " +
    "drift fixture loses recall@20 under the frozen artifacts and the " +
    "reindexed layout recovers it; generations stay monotone and the " +
    "old root is gone") {
    import graft.operators.Similarity
    val dir = "/root/testdata/sf0.001"
    val p = tmp("ivfreidx")
    val vecs = Tables.load(spark, dir, "embeddings")
    val coarse0 = vecs.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val (codes, book) = Similarity.ivfPqIndexTables(
      vecs, "vec_id", "embedding", coarse0, "cid", "cvec", 4, 16, 4)
    Writers.writeIvfCodes(spark, codes, p)
    Writers.padIvfPqCodebook(spark, book, 4, 16, 4)
      .write.mode("overwrite").parquet(s"$p/codebook")
    coarse0.write.mode("overwrite").parquet(s"$p/centroids")
    // drift: 20% of vectors change drastically; frozen artifacts encode
    val updated = vecs.filter(col("vec_id") % 5 =!= 4)
      .select(col("vec_id"), col("embedding"))
      .unionByName(vecs.filter(col("vec_id") % 5 === 4)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding")))
    Writers.updateIvfPqIndex(spark, p,
      vecs.filter(col("vec_id") % 5 === 4)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding")))
    // exact ground truth on the UPDATED corpus: brute squared-L2 top-20
    // for query vec 1 (the metric ADC approximates)
    val qv = vecs.filter(col("vec_id") === 1)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val gt = updated.select(col("vec_id"),
        aggregate(zip_with(col("embedding"),
            array(qv.map(lit): _*).cast("array<double>"),
            (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
          lit(0.0), (acc, z) => acc + z).as("d2"))
      .orderBy(col("d2").asc, col("vec_id").asc).limit(20)
      .select(col("vec_id")).as[Long].collect().toSet
    def annTop20(): Set[Long] = Similarity.ivfPqSearchStored(
        Writers.liveCodes(spark, p),
        spark.read.parquet(s"$p/codebook"),
        spark.read.parquet(s"$p/centroids"),
        "vec_id",
        vecs.filter(col("vec_id") === 1)
          .select(col("embedding").as("qvec")),
        "qvec", nprobe = 3, k = 20)
      .select(col("vec_id")).as[Long].collect().toSet
    val recallBefore = (annTop20() & gt).size
    val genBefore = spark.read.parquet(s"$p/gen")
      .select(col("next_gen")).head().getLong(0)
    Writers.reindexIvfPqIndex(spark, p, updated,
      updated.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec")))
    val recallAfter = (annTop20() & gt).size
    assert(recallAfter > recallBefore,
      s"reindex must recover drift-lost recall: before=$recallBefore " +
        s"after=$recallAfter of ${gt.size}")
    // monotone generations across the cutover, tombstones folded, no
    // stray roots
    assert(spark.read.parquet(s"$p/gen")
      .select(col("next_gen")).head().getLong(0) == genBefore + 1)
    assert(!Files.isDirectory(java.nio.file.Paths.get(s"$p/deletes")))
    assert(!Files.isDirectory(java.nio.file.Paths.get(p + ".old")) &&
      !Files.isDirectory(java.nio.file.Paths.get(p + ".staged")))
    assert(!Writers.writerLockHeld(p))
  }

  test("single-writer enforcement: an interleaved second writer fails " +
    "loudly BEFORE appending anything, describe reports the stale lock, " +
    "maintain vacuums it policy-driven, and the retried verb lands " +
    "exactly once — all three serving legs") {
    import graft.operators.Retrieval
    // ---- BM25 leg (full scenario) ----
    val p = tmp("bm25lock")
    val terms = Seq("alpha", "beta")
    Writers.writeBm25Index(
      Seq(0L -> "alpha beta", 1L -> "beta beta").toDF("doc_id", "text"), p)
    def probe() = Retrieval.bm25Stored(
        Writers.prunedBm25Tf(spark, p, terms),
        spark.read.parquet(s"$p/stats"), "doc_id", terms)
      .as[(Long, Long, Double)].collect().toSet
    // writer A "in flight": its lock is held (simulated holder)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(p, "_writer.lock"), "pid=interleaved")
    val fresh = Seq(2L -> "alpha alpha").toDF("doc_id", "text")
    // writer B loses at verb START — nothing appended, stats untouched
    val tfFiles = spark.read.parquet(s"$p/tf").inputFiles.toSet
    val ex = intercept[IllegalStateException] {
      Writers.mergeBm25Index(spark, p, fresh)
    }
    assert(ex.getMessage.contains("single-writer"))
    assert(spark.read.parquet(s"$p/tf").inputFiles.toSet == tfFiles,
      "the refused writer appended files")
    val exD = intercept[IllegalStateException] {
      Writers.deleteFromBm25Index(spark, p, Seq(0L).toDF("doc_id"))
    }
    assert(exD.getMessage.contains("single-writer"))
    // describe reports the torn state syscall-priced; maintain recovers
    assert(Writers.describeBm25Index(spark, p).staleWriter)
    assert(Writers.maintainBm25Index(spark, p),
      "maintain must report that recovery ran")
    assert(!Writers.describeBm25Index(spark, p).staleWriter,
      "maintain left the stale lock in place")
    // the vacuumed retry lands exactly once
    Writers.mergeBm25Index(spark, p, fresh)
    val ref = tmp("bm25lockref")
    Writers.writeBm25Index(
      Seq(0L -> "alpha beta", 1L -> "beta beta", 2L -> "alpha alpha")
        .toDF("doc_id", "text"), ref)
    assert(probe() == Retrieval.bm25Stored(
        Writers.prunedBm25Tf(spark, ref, terms),
        spark.read.parquet(s"$ref/stats"), "doc_id", terms)
      .as[(Long, Long, Double)].collect().toSet,
      "the retried merge did not land exactly once")

    // ---- IVF + postings legs: refusal + vacuum release ----
    val dir = "/root/testdata/sf0.001"
    val pv = tmp("ivflock")
    val vecs = Tables.load(spark, dir, "embeddings")
    val coarse = vecs.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val (codes, _) = graft.operators.Similarity.ivfPqIndexTables(
      vecs, "vec_id", "embedding", coarse, "cid", "cvec", 4, 16, 4)
    Writers.writeIvfCodes(spark, codes, pv)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(pv, "_writer.lock"), "pid=interleaved")
    val exV = intercept[IllegalStateException] {
      Writers.deleteFromIvfPqIndex(spark, pv, Seq(1L).toDF("vec_id"))
    }
    assert(exV.getMessage.contains("single-writer"))
    assert(Writers.describeIvfPqIndex(spark, pv).staleWriter)
    Writers.vacuumIvfPqIndex(spark, pv)
    assert(!Writers.writerLockHeld(pv))
    Writers.deleteFromIvfPqIndex(spark, pv, Seq(1L).toDF("vec_id"))
    assert(Writers.liveCodes(spark, pv).filter(col("vec_id") === 1).isEmpty)

    val pp = tmp("postlock")
    val docs = Seq(0L -> "x y", 1L -> "y z").toDF("doc_id", "text")
    Writers.writePostings(spark, docs, pp)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(pp, "_writer.lock"), "pid=interleaved")
    val exP = intercept[IllegalStateException] {
      Writers.mergePostings(spark, pp, Seq(2L -> "x z").toDF("doc_id", "text"))
    }
    assert(exP.getMessage.contains("single-writer"))
    assert(Writers.describePostings(spark, pp).staleWriter)
    assert(Writers.maintainPostings(spark, pp)) // vacuums the lock
    assert(!Writers.writerLockHeld(pp))
    Writers.mergePostings(spark, pp, Seq(2L -> "x z").toDF("doc_id", "text"))
    assert(spark.read.parquet(pp)
      .filter(col("doc_id") === 2).count() == 2) // "x z" -> two postings
  }

  test("AS-OF snapshot reads: a probe at the pre-verb generation equals " +
    "the pre-verb layout on all three serving legs, above-committed " +
    "horizons clamp to the present, stats replay the horizon exactly, " +
    "and compaction truncates the history") {
    import graft.operators.{Retrieval, Similarity}
    val dir = "/root/testdata/sf0.001"

    // ---- BM25 leg (tf visibility + recomputed G-horizon stats) ----
    val p = tmp("bm25asof")
    val terms = Seq("alpha", "beta", "gamma")
    val docs0 = Seq(0L -> "alpha beta beta", 1L -> "beta gamma",
      2L -> "alpha gamma gamma")
    Writers.writeBm25Index(docs0.toDF("doc_id", "text"), p)
    def bmProbe(tf: org.apache.spark.sql.DataFrame,
                st: org.apache.spark.sql.DataFrame) =
      Retrieval.bm25Stored(tf, st, "doc_id", terms)
        .as[(Long, Long, Double)].collect().toSet
    val pre = bmProbe(Writers.prunedBm25Tf(spark, p, terms),
      spark.read.parquet(s"$p/stats"))
    // the recomputed G-horizon stats land bit-for-bit on the stored row
    val stStored = spark.read.parquet(s"$p/stats")
      .select(col("n_docs"), col("avgdl"), col("sum_dl")).head()
    val stAsOf = Writers.bm25StatsAsOf(spark, p, 1L)
      .select(col("n_docs"), col("avgdl"), col("sum_dl")).head()
    assert(stStored == stAsOf,
      s"bm25StatsAsOf drifted from the stored stats: $stStored vs $stAsOf")
    // UPDATE doc 1 (delete + re-merge) — the layout moves on
    Writers.deleteFromBm25Index(spark, p, Seq(1L).toDF("doc_id"))
    Writers.mergeBm25Index(spark, p,
      Seq(1L -> "alpha alpha").toDF("doc_id", "text"))
    val post = bmProbe(Writers.prunedBm25Tf(spark, p, terms),
      spark.read.parquet(s"$p/stats"))
    assert(post != pre, "weak fixture: the update moved no score")
    // AS OF the pre-update generation == the pre-update probe
    assert(bmProbe(Writers.prunedBm25Tf(spark, p, terms, Some(1L)),
      Writers.bm25StatsAsOf(spark, p, 1L)) == pre,
      "BM25 AS-OF pre-verb != pre-verb layout")
    // a horizon above the committed counter clamps to the present
    assert(bmProbe(Writers.prunedBm25Tf(spark, p, terms, Some(99L)),
      Writers.bm25StatsAsOf(spark, p, 99L)) == post)
    // HISTORY HORIZON: compaction folds physically — the pre-verb
    // snapshot is gone (doc 1's old version folded away; the horizon
    // now reads the compacted survivors ∩ gen < G)
    Writers.compactBm25Index(spark, p)
    val truncated = bmProbe(Writers.prunedBm25Tf(spark, p, terms, Some(1L)),
      Writers.bm25StatsAsOf(spark, p, 1L))
    assert(truncated != pre,
      "compaction should truncate AS-OF history, not preserve it")

    // ---- IVF×PQ leg ----
    val vecs = Tables.load(spark, dir, "embeddings")
    val pv = tmp("ivfasof")
    val coarse = vecs.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val (codes, book) = Similarity.ivfPqIndexTables(
      vecs, "vec_id", "embedding", coarse, "cid", "cvec", 4, 16, 4)
    Writers.writeIvfCodes(spark, codes, pv)
    Writers.padIvfPqCodebook(spark, book, 4, 16, 4)
      .write.mode("overwrite").parquet(s"$pv/codebook")
    coarse.write.mode("overwrite").parquet(s"$pv/centroids")
    val q = vecs.filter(col("vec_id") === 1)
      .select(col("embedding").as("qvec"))
    def ivfProbe(asOf: Option[Long]) = Similarity.ivfPqSearchStored(
        Writers.liveCodes(spark, pv, asOfGen = asOf),
        spark.read.parquet(s"$pv/codebook"),
        spark.read.parquet(s"$pv/centroids"),
        "vec_id", q, "qvec", nprobe = 3, k = 20)
      .as[(Long, Double)].collect().toSet
    val ivfPre = ivfProbe(None)
    Writers.updateIvfPqIndex(spark, pv,
      vecs.filter(col("vec_id") % 5 === 4)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding")))
    val ivfPost = ivfProbe(None)
    assert(ivfPost != ivfPre, "weak fixture: the update moved no rank")
    assert(ivfProbe(Some(1L)) == ivfPre,
      "IVF AS-OF pre-verb != pre-verb layout")
    assert(ivfProbe(Some(99L)) == ivfPost, "above-committed must clamp")

    // ---- postings leg (merge visibility) ----
    val pp = Writers.ensurePostingsMerged(spark, dir, "documents")
    val phrase = Seq("fast", "table")
    def phraseProbe(asOf: Option[Long]) = Retrieval.phraseSearch(
        Writers.prunedPostings(spark, pp, phrase, asOf),
        "doc_id", phrase)
      .as[(Long, Long, Long)].collect().toSet
    val slice = Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % 3 =!= 2)
      .select(col("doc_id"),
        filter(split(col("text"), " "), t => t =!= "").as("toks"))
    val sliceProbe = Retrieval.phraseSearch(
        Retrieval.invertedIndex(slice, "doc_id", col("toks")),
        "doc_id", phrase)
      .as[(Long, Long, Long)].collect().toSet
    assert(phraseProbe(Some(1L)) == sliceProbe,
      "postings AS-OF pre-merge != pre-merge build")
    assert(phraseProbe(Some(99L)) == phraseProbe(None))
    assert(phraseProbe(None) != sliceProbe,
      "weak fixture: the merge added no match")
  }

  test("one on-disk format: every builder and every ensure* variant " +
    "leaves a sidecar with next_gen, a gen stamp on every leg row, and " +
    "del_gen on BM25 and IVF-PQ tombstones (postings' stay id-only)") {
    import graft.operators.Similarity
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.load(spark, dir, "documents")
    val vecs = Tables.load(spark, dir, "embeddings")
    val bm25 = tmp("fmtbm25"); val post = tmp("fmtpost"); val ivf = tmp("fmtivf")
    Writers.writeBm25Index(docs, bm25)
    Writers.writePostings(spark, docs, post)
    val coarse = vecs.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    Writers.writeIvfCodes(spark, Similarity.ivfPqIndexTables(vecs, "vec_id",
      "embedding", coarse, "cid", "cvec", 4, 16, 4)._1, ivf)
    // (root, sidecar, legs, tombstones, tombstone id column, gen-aware)
    def bm25Shape(p: String) =
      (p, s"$p/stats", Seq(s"$p/tf", s"$p/doclen"), s"$p/deletes", "doc_id", true)
    def postShape(p: String) = (p, s"$p/_gen", Seq(p), s"$p/_deletes", "doc_id", false)
    def ivfShape(p: String) =
      (p, s"$p/gen", Seq(s"$p/codes"), s"$p/deletes", "vec_id", true)
    val layouts = Seq(
      bm25Shape(bm25), postShape(post), ivfShape(ivf),
      bm25Shape(Writers.ensureBm25Index(spark, dir)),
      bm25Shape(Writers.ensureBm25IndexMerged(spark, dir)),
      bm25Shape(Writers.ensureBm25IndexDeleted(spark, dir)),
      bm25Shape(Writers.ensureBm25IndexUpdated(spark, dir)),
      bm25Shape(Writers.ensureBm25IndexCompacted(spark, dir)),
      bm25Shape(Writers.ensureBm25IndexDeleteCompacted(spark, dir)),
      postShape(Writers.ensurePostings(spark, dir)),
      postShape(Writers.ensurePostingsMerged(spark, dir)),
      postShape(Writers.ensurePostingsDeleted(spark, dir)),
      ivfShape(Writers.ensureIvfPqIndex(spark, dir)),
      ivfShape(Writers.ensureIvfPqIndexMerged(spark, dir)),
      ivfShape(Writers.ensureIvfPqIndexDeleted(spark, dir)),
      ivfShape(Writers.ensureIvfPqIndexUpdated(spark, dir)),
      ivfShape(Writers.ensureIvfPqIndexReindexed(spark, dir)),
      ivfShape(Writers.ensureIvfPqIndexTrained(spark, dir)))
    layouts.foreach { case (root, side, legs, dels, id, genTombs) =>
      val st = spark.read.parquet(side)
      assert(st.columns.contains("next_gen") && st.count() == 1L,
        s"$root: no one-row next_gen sidecar")
      legs.foreach { leg =>
        val rows = spark.read.parquet(leg)
        assert(rows.columns.contains("gen") && rows.count() > 0L &&
          rows.filter(col("gen").isNull).isEmpty, s"$leg: a row without gen")
      }
      if (Writers.hasParquetFiles(dels)) {
        val t = spark.read.parquet(dels)
        if (genTombs)
          assert(t.columns.toSet == Set(id, "del_gen") &&
            t.filter(col("del_gen").isNull).isEmpty, s"$dels: a tombstone without del_gen")
        else assert(t.columns.toSeq == Seq(id), s"$dels: not id-only")
      }
    }
    assert(layouts.filter(l => Writers.hasParquetFiles(l._4)).map(_._6).toSet ==
      Set(true, false), "weak fixture: the deleted variants left no tombstones")
  }

  test("a root with leg files but no sidecar is refused by every probe " +
    "and write verb, before the writer lock; an empty root reads as " +
    "generation 1") {
    import graft.operators.Similarity
    import java.nio.file.Paths
    def drop(path: String): Unit = {
      val walk = Files.walk(Paths.get(path))
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
      finally walk.close()
    }
    def refused(builder: String)(call: => Any): Unit = {
      val ex = intercept[IllegalStateException](call)
      assert(ex.getMessage.contains("no generation sidecar") &&
        ex.getMessage.contains(s"rebuild it with $builder"), ex.getMessage)
    }
    val docs = Seq(0L -> "alpha beta", 1L -> "beta gamma").toDF("doc_id", "text")
    val bm25 = tmp("nosidebm25")
    Writers.writeBm25Index(docs, bm25)
    drop(s"$bm25/stats")
    refused("writeBm25Index")(Writers.prunedBm25Tf(spark, bm25, Seq("beta")))
    refused("writeBm25Index")(Writers.mergeBm25Index(spark, bm25,
      Seq(2L -> "gamma").toDF("doc_id", "text")))
    assert(!Writers.writerLockHeld(bm25))
    val post = tmp("nosidepost")
    Writers.writePostings(spark, docs, post)
    drop(s"$post/_gen")
    refused("writePostings")(Writers.prunedPostings(spark, post, Seq("beta")))
    refused("writePostings")(Writers.deleteFromPostings(spark, post,
      Seq(1L).toDF("doc_id")))
    assert(!Writers.writerLockHeld(post) &&
      !Files.exists(Paths.get(post, "_deletes")))
    val dir = "/root/testdata/sf0.001"
    val vecs = Tables.load(spark, dir, "embeddings")
    val coarse = vecs.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val ivf = tmp("nosideivf")
    coarse.write.parquet(s"$ivf/centroids")
    // empty root: no sidecar, no codes — the streaming bootstrap
    assert(Writers.describeIvfPqIndex(spark, ivf).nextGen == 1L)
    Writers.writeIvfCodes(spark, Similarity.ivfPqIndexTables(vecs, "vec_id",
      "embedding", coarse, "cid", "cvec", 4, 16, 4)._1, ivf)
    drop(s"$ivf/gen")
    refused("writeIvfCodes")(Writers.liveCodes(spark, ivf))
    refused("writeIvfCodes")(Writers.deleteFromIvfPqIndex(spark, ivf,
      Seq(1L).toDF("vec_id")))
    assert(!Writers.writerLockHeld(ivf) &&
      !Files.exists(Paths.get(ivf, "deletes")))
  }

  test("updateIvfPqIndex: the probe serves exactly one — the new — " +
    "version of every updated vector (visible codes equal a " +
    "from-scratch encode of the UPDATED corpus against the frozen " +
    "artifacts), and a later delete kills the updated version") {
    import graft.operators.Similarity
    val dir = "/root/testdata/sf0.001"
    val p = tmp("ivfupd")
    val vecs = Tables.load(spark, dir, "embeddings")
    val coarse = vecs.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val (codes, book) = Similarity.ivfPqIndexTables(
      vecs, "vec_id", "embedding", coarse, "cid", "cvec", 4, 16, 4)
    Writers.writeIvfCodes(spark, codes, p)
    Writers.padIvfPqCodebook(spark, book, 4, 16, 4)
      .write.mode("overwrite").parquet(s"$p/codebook")
    coarse.write.mode("overwrite").parquet(s"$p/centroids")
    val changed = vecs.filter(col("vec_id") % 5 === 4)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
    Writers.updateIvfPqIndex(spark, p, changed)
    val visible = Writers.liveCodes(spark, p)
      .select("vec_id", "codes", "bucket")
    val updatedCorpus = vecs.filter(col("vec_id") % 5 =!= 4)
      .select(col("vec_id"), col("embedding")).unionByName(changed)
    val expected = Similarity.ivfPqEncode(
      updatedCorpus, "vec_id", "embedding",
      spark.read.parquet(s"$p/centroids"))
      .select("vec_id", "codes", "bucket")
    assert(visible.count() == vecs.count(),
      "update changed the visible cardinality")
    assert(visible.exceptAll(expected).isEmpty &&
      expected.exceptAll(visible).isEmpty,
      "visible codes != frozen-artifact encode of the updated corpus")
    // exactly ONE visible version per updated id (the gen anti-join
    // must kill the build-time version)
    assert(visible.groupBy(col("vec_id")).count()
      .filter(col("count") > 1).isEmpty,
      "an updated id is visible more than once")
    // a delete AFTER the update must kill the NEW version too (the
    // re-delete appends a fresh tombstone past the merged gen)
    Writers.deleteFromIvfPqIndex(spark, p, Seq(4L).toDF("vec_id"))
    assert(Writers.liveCodes(spark, p)
      .filter(col("vec_id") === 4).isEmpty,
      "delete-after-update left the updated version visible")
  }

  test("describePostings / maintainPostings: metadata-priced policy — " +
    "segment-count and tombstone triggers fire, healthy layouts are " +
    "no-ops, compaction clears the debt") {
    val dir = "/root/testdata/sf0.001"
    val p = tmp("postmaint")
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    Writers.writePostings(spark, docs.filter(col("doc_id") % 3 =!= 2), p)
    Writers.mergePostings(spark, p, docs.filter(col("doc_id") % 3 === 2))
    val i0 = Writers.describePostings(spark, p)
    assert(i0.postingRows > 0 && i0.tombstoneRows == 0 && i0.dirs > 0)
    assert(i0.maxFilesPerDir >= 2,
      "the merge should have appended a segment file")
    assert(!Writers.maintainPostings(spark, p, maxTombstones = 1024,
      maxFilesPerDir = 8))
    // segment-count trigger fires and folds to one file per directory
    assert(Writers.maintainPostings(spark, p, maxFilesPerDir = 1))
    val i1 = Writers.describePostings(spark, p)
    assert(i1.maxFilesPerDir == 1 && i1.postingRows == i0.postingRows,
      "compaction must be row-identical")
    // tombstone trigger: > maxTombstones fires, == stays a no-op
    Writers.deleteFromPostings(spark, p,
      docs.filter(col("doc_id") % 7 === 3).select(col("doc_id")))
    val nT = Writers.describePostings(spark, p).tombstoneRows
    assert(nT > 0)
    assert(!Writers.maintainPostings(spark, p, maxTombstones = nT))
    assert(Writers.maintainPostings(spark, p, maxTombstones = nT - 1))
    val i2 = Writers.describePostings(spark, p)
    assert(i2.tombstoneRows == 0 && i2.postingRows < i1.postingRows)
    // the accumulated-tombstone bound is enforced, not assumed
    val ex = intercept[IllegalArgumentException] {
      Writers.deleteFromPostings(spark, p,
        spark.range(Writers.MaxTombstoneRows + 1)
          .select(col("id").as("doc_id")))
    }
    assert(ex.getMessage.contains("MaxTombstoneRows"))
  }

  test("describeIvfPqIndex / maintainIvfPqIndex: metadata-priced policy " +
    "— tombstone-fraction and segment-count triggers fire, compaction " +
    "clears the debt, the tombstone bound is enforced") {
    import graft.operators.Similarity
    val dir = "/root/testdata/sf0.001"
    val p = tmp("ivfmaint")
    val vecs = Tables.load(spark, dir, "embeddings")
    val coarse = vecs.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val (codes, book) = Similarity.ivfPqIndexTables(
      vecs.filter(col("vec_id") % 3 =!= 2), "vec_id", "embedding",
      coarse, "cid", "cvec", 4, 16, 4)
    Writers.writeIvfCodes(spark, codes, p)
    Writers.padIvfPqCodebook(spark, book, 4, 16, 4)
      .write.mode("overwrite").parquet(s"$p/codebook")
    coarse.write.mode("overwrite").parquet(s"$p/centroids")
    Writers.mergeIvfPqIndex(spark, p,
      vecs.filter(col("vec_id") % 3 === 2))
    val i0 = Writers.describeIvfPqIndex(spark, p)
    assert(i0.codesRows == vecs.count() && i0.tombstoneRows == 0 &&
      i0.tombstoneFraction == 0.0 && i0.lastMergeGen == 1 &&
      i0.nextGen == 2)
    assert(i0.maxFilesPerDir >= 2,
      "the merge should have appended a segment file")
    assert(!Writers.maintainIvfPqIndex(spark, p, maxFilesPerDir = 8))
    assert(Writers.maintainIvfPqIndex(spark, p, maxFilesPerDir = 1))
    assert(Writers.describeIvfPqIndex(spark, p).maxFilesPerDir == 1)
    // tombstone-fraction trigger
    Writers.deleteFromIvfPqIndex(spark, p,
      vecs.filter(col("vec_id") % 2 === 0).select(col("vec_id")))
    val i1 = Writers.describeIvfPqIndex(spark, p)
    assert(i1.tombstoneRows > 0 && i1.tombstoneFraction > 0.2)
    assert(!Writers.maintainIvfPqIndex(spark, p,
      maxTombstoneFraction = 0.9))
    assert(Writers.maintainIvfPqIndex(spark, p,
      maxTombstoneFraction = 0.2))
    val i2 = Writers.describeIvfPqIndex(spark, p)
    assert(i2.tombstoneRows == 0 && i2.codesRows < i1.codesRows &&
      i2.nextGen == i1.nextGen,
      "compaction must fold tombstones and keep the gen counter")
    val ex = intercept[IllegalArgumentException] {
      Writers.deleteFromIvfPqIndex(spark, p,
        spark.range(Writers.MaxTombstoneRows + 1)
          .select(col("id").as("vec_id")))
    }
    assert(ex.getMessage.contains("MaxTombstoneRows"))
  }

  test("deleteFromBm25Index allowEmpty: a layout may TRANSIT through " +
    "empty (the bootstrap stats shape) and a merge re-populates it; " +
    "the default still refuses to empty") {
    import graft.operators.Retrieval
    val docs = Seq(
      (0L, "alpha beta beta"), (1L, "beta gamma"),
    ).toDF("doc_id", "text")
    val p = tmp("bm25empty")
    Writers.writeBm25Index(docs, p)
    val ex = intercept[IllegalArgumentException] {
      Writers.deleteFromBm25Index(spark, p, docs.select(col("doc_id")))
    }
    assert(ex.getMessage.contains("allowEmpty"))
    assert(Writers.deleteFromBm25Index(spark, p, docs.select(col("doc_id")),
      allowEmpty = true) == 2L)
    val st = spark.read.parquet(s"$p/stats").head()
    assert(st.getAs[Long]("n_docs") == 0L && st.isNullAt(
      st.fieldIndex("avgdl")) && st.isNullAt(st.fieldIndex("sum_dl")),
      "emptied stats must match the zero-doc bootstrap shape")
    // the additive merge bootstraps straight out of the emptied state
    Writers.mergeBm25Index(spark, p, Seq((9L, "alpha beta")).toDF(
      "doc_id", "text"))
    val terms = Seq("alpha", "beta")
    val ref = tmp("bm25emptyref")
    Writers.writeBm25Index(Seq((9L, "alpha beta")).toDF("doc_id", "text"),
      ref)
    def probe(path: String) = Retrieval.bm25Stored(
        Writers.prunedBm25Tf(spark, path, terms),
        spark.read.parquet(s"$path/stats"), "doc_id", terms)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(probe(p) == probe(ref) && probe(p).nonEmpty,
      "merge over the emptied layout != fresh build over the new corpus")
  }

  test("read-time atomic commit (BM25): a torn merge or delete — " +
    "appends landed, the final stats write did not — is INVISIBLE " +
    "(the layout reads as its pre-verb state), vacuum collects the " +
    "torn segments, and the retried verb lands exactly once") {
    import graft.operators.Retrieval
    val docs = Seq(
      (0L, "alpha beta beta"), (1L, "beta gamma"),
      (2L, "alpha delta gamma"), (3L, "alpha epsilon"),
    ).toDF("doc_id", "text")
    val p = tmp("bm25torn")
    Writers.writeBm25Index(docs.filter(col("doc_id") < 2), p)
    val terms = Seq("alpha", "beta", "gamma")
    def probe() = Retrieval.bm25Stored(
        Writers.prunedBm25Tf(spark, p, terms),
        spark.read.parquet(s"$p/stats"), "doc_id", terms)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val before = probe()
    val oldStats = spark.read.parquet(s"$p/stats").collect().head
    def restoreStats(): Unit =
      spark.range(1).select(
          lit(oldStats.getAs[Long]("n_docs")).as("n_docs"),
          lit(oldStats.getAs[Double]("avgdl")).as("avgdl"),
          lit(oldStats.getAs[java.math.BigDecimal]("sum_dl"))
            .cast("decimal(28,6)").as("sum_dl"),
          lit(oldStats.getAs[Long]("next_gen")).as("next_gen"))
        .write.mode("overwrite").parquet(s"$p/stats")
    // TORN MERGE: run the verb fully, then roll the stats file back —
    // byte-identical to a crash after the appends, before the commit
    Writers.mergeBm25Index(spark, p, docs.filter(col("doc_id") >= 2))
    restoreStats()
    assert(probe() == before,
      "a torn merge's appended segments leaked into the probe")
    // vacuum collects the torn tf+doclen segments; probe still intact
    val removed = Writers.vacuumBm25Index(spark, p)
    assert(removed >= 2, s"expected torn tf+doclen files, removed=$removed")
    assert(probe() == before)
    // the RETRY lands exactly once and equals a from-scratch build
    Writers.mergeBm25Index(spark, p, docs.filter(col("doc_id") >= 2))
    val ref = tmp("bm25tornref")
    Writers.writeBm25Index(docs, ref)
    def probeRef() = Retrieval.bm25Stored(
        Writers.prunedBm25Tf(spark, ref, terms),
        spark.read.parquet(s"$ref/stats"), "doc_id", terms)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(probe() == probeRef(),
      "retried merge after vacuum != from-scratch build")
    // TORN DELETE: tombstones appended, stats rolled back — inactive
    val full = probe()
    val preDelStats = spark.read.parquet(s"$p/stats").collect().head
    Writers.deleteFromBm25Index(spark, p, Seq(1L).toDF("doc_id"))
    spark.range(1).select(
        lit(preDelStats.getAs[Long]("n_docs")).as("n_docs"),
        lit(preDelStats.getAs[Double]("avgdl")).as("avgdl"),
        lit(preDelStats.getAs[java.math.BigDecimal]("sum_dl"))
          .cast("decimal(28,6)").as("sum_dl"),
        lit(preDelStats.getAs[Long]("next_gen")).as("next_gen"))
      .write.mode("overwrite").parquet(s"$p/stats")
    assert(probe() == full,
      "a torn delete's uncommitted tombstones killed rows")
    // delete retries WITHOUT vacuum (duplicate tombstones are harmless
    // in the anti-join; the stats subtraction recomputes from live rows)
    assert(Writers.deleteFromBm25Index(spark, p, Seq(1L).toDF("doc_id")) == 1L)
    assert(probe().nonEmpty && probe().forall(_._1 != 1L))
  }

  test("read-time atomic commit (postings): a torn merge — posting " +
    "segments appended, the _gen sidecar flip did not land — is " +
    "invisible to the phrase probe, vacuum collects it, the retry " +
    "lands exactly once") {
    import graft.operators.Retrieval
    val docs = Seq(
      (0L, "alpha beta gamma"), (1L, "beta gamma delta"),
      (2L, "alpha beta gamma delta"), (3L, "gamma beta alpha"),
    ).toDF("doc_id", "text")
    val p = tmp("posttorn")
    Writers.writePostings(spark, docs.filter(col("doc_id") < 2), p)
    val phrase = Seq("beta", "gamma")
    def probe() = Retrieval.phraseSearch(
        Writers.prunedPostings(spark, p, phrase), "doc_id", phrase)
      .select(col("doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    val before = probe()
    assert(before == Set(0L, 1L))
    // torn merge: verb fully run, sidecar rolled back
    Writers.mergePostings(spark, p, docs.filter(col("doc_id") >= 2))
    spark.range(1).select(lit(1L).as("next_gen"))
      .write.mode("overwrite").parquet(s"$p/_gen")
    assert(probe() == before,
      "a torn postings merge leaked into the phrase probe")
    assert(Writers.vacuumPostings(spark, p) >= 1)
    assert(probe() == before)
    // retry lands exactly once (doc 3 has no adjacent "beta gamma")
    Writers.mergePostings(spark, p, docs.filter(col("doc_id") >= 2))
    assert(probe() == Set(0L, 1L, 2L))
    // each VISIBLE posting appears exactly once (no doubled lists)
    val perDoc = Writers.prunedPostings(spark, p, Seq("beta"))
      .groupBy(col("doc_id"), col("pos")).count()
      .filter(col("count") > 1)
    assert(perDoc.isEmpty, "retried merge doubled a posting")
    // compaction preserves the gen counter and visibility
    Writers.compactPostings(spark, p)
    assert(probe() == Set(0L, 1L, 2L))
  }

  test("read-time atomic commit (IVF-PQ): a torn merge — codes appended, " +
    "the gen sidecar flip did not land — is invisible through " +
    "liveCodes, vacuum collects it, the retry lands exactly once") {
    import graft.operators.Similarity
    val dir = "/root/testdata/sf0.001"
    val p = tmp("ivftorn")
    val vecs = Tables.load(spark, dir, "embeddings")
    val coarse = vecs.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val sliceA = vecs.filter(col("vec_id") % 3 =!= 2)
    val (codes, book) = Similarity.ivfPqIndexTables(
      sliceA, "vec_id", "embedding", coarse, "cid", "cvec", 4, 16, 4)
    Writers.writeIvfCodes(spark, codes, p)
    Writers.padIvfPqCodebook(spark, book, 4, 16, 4)
      .write.mode("overwrite").parquet(s"$p/codebook")
    coarse.write.mode("overwrite").parquet(s"$p/centroids")
    def visible() = Writers.liveCodes(spark, p)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val before = visible()
    // torn merge: verb fully run, sidecar rolled back
    Writers.mergeIvfPqIndex(spark, p, vecs.filter(col("vec_id") % 3 === 2))
    spark.range(1).select(lit(1L).as("next_gen"),
        lit(0L).as("last_merge_gen"))
      .write.mode("overwrite").parquet(s"$p/gen")
    assert(visible() == before,
      "a torn merge's appended codes leaked into liveCodes")
    assert(Writers.vacuumIvfPqIndex(spark, p) >= 1)
    assert(visible() == before)
    // retry lands once: visible set = whole corpus, each id exactly once
    Writers.mergeIvfPqIndex(spark, p, vecs.filter(col("vec_id") % 3 === 2))
    val after = Writers.liveCodes(spark, p)
    assert(after.count() == vecs.count() &&
      after.groupBy(col("vec_id")).count().filter(col("count") > 1).isEmpty,
      "retried merge after vacuum dropped or doubled a vector")
  }

  test("a verb that throws after an append vacuums its torn files before " +
    "it releases the writer lock, so the next commit cannot publish them " +
    "— all three serving legs") {
    import graft.operators.{Retrieval, Similarity}
    // ---- BM25: the tf append lands, the commit of its job throws ----
    val p = tmp("bm25throw")
    val terms = Seq("alpha", "beta")
    Writers.writeBm25Index(
      Seq(0L -> "alpha beta", 1L -> "beta beta").toDF("doc_id", "text"), p)
    def probe(path: String) = Retrieval.bm25Stored(
        Writers.prunedBm25Tf(spark, path, terms),
        spark.read.parquet(s"$path/stats"), "doc_id", terms)
      .as[(Long, Long, Double)].collect().toSet
    val before = probe(p)
    val undo = TestSpark.failNextCommit(s"$p/tf")
    intercept[Exception] {
      Writers.mergeBm25Index(spark, p,
        Seq(10L -> "alpha alpha").toDF("doc_id", "text"),
        checkNewDocIds = false)
    }
    undo()
    assert(!Writers.writerLockHeld(p))
    assert(probe(p) == before)
    assert(spark.read.parquet(s"$p/tf").filter(col("doc_id") === 10L)
      .isEmpty, "the failed merge's tf segment was left behind")
    Writers.mergeBm25Index(spark, p,
      Seq(11L -> "alpha beta").toDF("doc_id", "text"))
    val ref = tmp("bm25throwref")
    Writers.writeBm25Index(Seq(0L -> "alpha beta", 1L -> "beta beta",
      11L -> "alpha beta").toDF("doc_id", "text"), ref)
    assert(probe(p) == probe(ref),
      "the next commit published the failed merge's rows")
    assert(Writers.describeBm25Index(spark, p).doclenRows == 3L)

    // ---- postings: the root append lands, its job commit throws ----
    val pp = tmp("postthrow")
    Writers.writePostings(spark,
      Seq(0L -> "x y", 1L -> "y z").toDF("doc_id", "text"), pp)
    val undoP = TestSpark.failNextCommit(pp)
    intercept[Exception] {
      Writers.mergePostings(spark, pp, Seq(10L -> "x y").toDF("doc_id", "text"))
    }
    undoP()
    assert(!Writers.writerLockHeld(pp))
    Writers.mergePostings(spark, pp, Seq(11L -> "y z").toDF("doc_id", "text"))
    assert(Retrieval.phraseSearch(
        Writers.prunedPostings(spark, pp, Seq("x", "y")), "doc_id",
        Seq("x", "y"))
      .select(col("doc_id")).as[Long].collect().toSet == Set(0L),
      "the next commit published the failed postings merge")

    // ---- IVF×PQ: the codes append lands, its job commit throws ----
    val pv = tmp("ivfthrow")
    val vecs = TestSpark.vectors(90)
    val coarse = vecs.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val (codes, book) = Similarity.ivfPqIndexTables(
      vecs.filter(col("vec_id") % 3 =!= 2), "vec_id", "embedding",
      coarse, "cid", "cvec", 4, 16, 4)
    Writers.writeIvfCodes(spark, codes, pv)
    Writers.padIvfPqCodebook(spark, book, 4, 16, 4)
      .write.mode("overwrite").parquet(s"$pv/codebook")
    coarse.write.mode("overwrite").parquet(s"$pv/centroids")
    def visible() = Writers.liveCodes(spark, pv)
      .select(col("vec_id")).as[Long].collect().toSet
    val beforeV = visible()
    val undoV = TestSpark.failNextCommit(s"$pv/codes")
    intercept[Exception] {
      Writers.mergeIvfPqIndex(spark, pv,
        vecs.filter(col("vec_id") % 3 === 2 && col("vec_id") % 2 === 0))
    }
    undoV()
    assert(!Writers.writerLockHeld(pv))
    Writers.mergeIvfPqIndex(spark, pv,
      vecs.filter(col("vec_id") % 3 === 2 && col("vec_id") % 2 === 1))
    val oddIds = vecs.filter(col("vec_id") % 3 === 2 && col("vec_id") % 2 === 1)
      .select(col("vec_id")).as[Long].collect().toSet
    assert(visible() == beforeV ++ oddIds,
      "the next commit published the failed IVF merge's codes")
  }

  test("swap-window recovery (leg): a crash between compactBm25Index's " +
    "two renames — tf/ already at tf.old, the complete tf.staged not yet " +
    "renamed in, the lock abandoned — is rolled forward by " +
    "vacuumBm25Index, and the probe equals the pre-crash probe") {
    import graft.operators.Retrieval
    import java.nio.file.Paths
    val docs = Seq((0L, "alpha beta beta"), (1L, "beta gamma"),
      (2L, "alpha gamma gamma")).toDF("doc_id", "text")
    val p = tmp("bm25swapcrash")
    Writers.writeBm25Index(docs, p)
    Writers.deleteFromBm25Index(spark, p, Seq(1L).toDF("doc_id"))
    val terms = Seq("alpha", "beta", "gamma")
    def probe() = Retrieval.bm25Stored(
        Writers.prunedBm25Tf(spark, p, terms),
        spark.read.parquet(s"$p/stats"), "doc_id", terms)
      .as[(Long, Long, Double)].collect().toSet
    val before = probe()
    // the crashed compaction's state: its staged tf (tombstoned doc 1
    // folded out) complete, the live tf renamed away, the lock held
    spark.read.parquet(s"$p/tf").filter(col("doc_id") =!= 1)
      .repartition(col("tok_part"))
      .write.partitionBy("tok_part").parquet(s"$p/tf.staged")
    Files.move(Paths.get(s"$p/tf"), Paths.get(s"$p/tf.old"))
    Files.writeString(Paths.get(p, "_writer.lock"), "pid=crashed")
    Writers.vacuumBm25Index(spark, p)
    assert(probe() == before, "the swap-window crash lost the tf leg")
    assert(spark.read.parquet(s"$p/tf").filter(col("doc_id") === 1).isEmpty,
      "a complete staged leg must roll forward, not back")
    assert(!Files.exists(Paths.get(s"$p/tf.old")) &&
      !Files.exists(Paths.get(s"$p/tf.staged")))
    assert(!Writers.writerLockHeld(p))
    Writers.compactBm25Index(spark, p)
    assert(probe() == before)
  }

  test("swap-window recovery (root): a crash between compactPostings' " +
    "two renames — the root (with its tombstones and the crashed verb's " +
    "lock) at .old, the complete staged root not yet renamed in — is " +
    "rolled forward by vacuumPostings, and the probe equals the " +
    "pre-crash probe") {
    import graft.operators.Retrieval
    import java.nio.file.Paths
    val docs = Seq((0L, "alpha beta gamma"), (1L, "beta gamma delta"),
      (2L, "gamma beta alpha")).toDF("doc_id", "text")
    val p = tmp("postswapcrash")
    Writers.writePostings(spark, docs, p)
    Writers.deleteFromPostings(spark, p, Seq(1L).toDF("doc_id"))
    val phrase = Seq("beta", "gamma")
    def probe() = Retrieval.phraseSearch(
        Writers.prunedPostings(spark, p, phrase), "doc_id", phrase)
      .select(col("doc_id")).distinct().as[Long].collect().toSet
    val before = probe()
    assert(before == Set(0L))
    // the crashed compaction's state: the staged root (doc 1 folded
    // out, the gen sidecar at its preserved counter) complete, the live
    // root renamed away with the lock inside it
    val staged = p + ".staged"
    spark.read.parquet(p).filter(col("doc_id") =!= 1)
      .repartition(col("tok_part"))
      .write.partitionBy("tok_part").parquet(staged)
    spark.read.parquet(s"$p/_gen").write.parquet(s"$staged/_gen")
    Files.writeString(Paths.get(p, "_writer.lock"), "pid=crashed")
    Files.move(Paths.get(p), Paths.get(p + ".old"))
    Writers.vacuumPostings(spark, p)
    assert(probe() == before, "the swap-window crash lost the root")
    assert(!Writers.hasParquetFiles(s"$p/_deletes"),
      "a complete staged root must roll forward, not back")
    assert(!Files.exists(Paths.get(p + ".old")) && !Files.exists(Paths.get(staged)))
    assert(!Writers.writerLockHeld(p))
    Writers.mergePostings(spark, p, Seq(3L -> "beta gamma").toDF("doc_id", "text"))
    assert(probe() == Set(0L, 3L))
  }

  test("jdbc upsert: postgres dialect renders the reference's ON CONFLICT form") {
    val raw = ConfigLoader.storageTable(storageYaml, "raw")
    val sql = JdbcUpsert.Postgres.upsertSql(raw)
    assert(sql == "INSERT INTO proyectos_raw (no_camara, row_hash) VALUES (?, ?) " +
      "ON CONFLICT (row_hash) DO UPDATE SET no_camara = EXCLUDED.no_camara")
    assert(JdbcUpsert.Postgres.createTableSql(raw).startsWith(
      "CREATE TABLE IF NOT EXISTS proyectos_raw"))
  }
}
