package graft.sources

import java.nio.file.{FileAlreadyExistsException, Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._
import scala.util.control.{ControlThrowable, NonFatal}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Similarity, Upsert}

/** Sink surface — SURVEY §2.7 (W1–W3). The reference upserts into
  * Postgres with `INSERT … ON CONFLICT (pk) DO UPDATE`
  * (src/storage.py:41-53,126-131); over immutable parquet the same
  * semantics are a versioned state rewrite: read the latest state, MERGE
  * with the incoming batch (PK keep-winner), write the next version.
  *
  * Scale notes: [[partitioned]] chooses the pruning key — date/tenant-like
  * low-cardinality columns, never the PK (one file per row). The merge
  * rewrite shuffles once on the PK; on a real deployment the same operator
  * pair targets a table format with MERGE INTO (Delta/Iceberg) instead of
  * directory versions — the operator semantics (Upsert.merge) are
  * unchanged, only the commit protocol differs.
  *
  * The three mutable serving layouts (BM25, positional postings, IVF×PQ)
  * share ONE commit protocol, [[GenLayout]]; the verbs below supply only
  * what differs per layout — the rows they produce and their stats.
  */
object Writers {

  /** Partitioned parquet write — `partitionBy` columns become directory
    * pruning keys for every downstream scan. */
  def partitioned(df: DataFrame, path: String,
                  partitionCols: Seq[String]): Unit =
    df.write.partitionBy(partitionCols: _*).mode("overwrite").parquet(path)

  // ---- at-most-once fixtures ------------------------------------------

  /** Per-JVM scratch root of every [[fixture]] layout and of
    * GraftSession's warehouse: `graft-<pid>/` in the JVM temp directory.
    * PID-scoped, because two live graft processes must never overwrite
    * each other's layouts (ADVICE r12) — Bucketing's orphan recovery
    * relies on it. A JVM shutdown hook removes it; session stop cannot,
    * because the fixture cache below outlives a session. */
  private[graft] lazy val scratchRoot: String = {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft-" +
      ProcessHandle.current().pid()
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try removeDir(root) catch { case NonFatal(_) => () }))
    root
  }

  // one build per path; the map only hands out the holder, so a build
  // never runs under a map-bin lock and concurrent first callers of one
  // layout (Verify's parallel pool) block on the holder until the write
  // completes (ADVICE r13). A failed build is retried by the next caller.
  private final class Once(build: => Unit) {
    private lazy val built: Unit = build
    def apply(): Unit = built
  }
  private val prepared = new ConcurrentHashMap[String, Once]()

  /** Build the layout `kind` of corpus table `name` AT MOST ONCE per
    * (JVM, corpus dir, params) under [[scratchRoot]] and return its path.
    * The corpus token is md5-derived (String.hashCode can collide). */
  private def fixture(kind: String, name: String, dir: String,
                      params: Any*)(build: String => Unit): String = {
    val path = s"$scratchRoot/$kind/" +
      (Seq(name, SourceKeys.dirToken(dir)) ++ params).mkString("_")
    prepared.computeIfAbsent(path, p => new Once(build(p)))()
    path
  }

  /** Partitioned layout of corpus table `name` — the one-time directory
    * layout whose pruning every subsequent filtered scan banks (the
    * [[graft.sources.Bucketing.ensureBucketed]] pattern for partition
    * keys instead of bucket keys). Returns the path. */
  def ensurePartitioned(spark: SparkSession, dir: String, name: String,
                        partitionCols: Seq[String]): String =
    fixture("partitioned", name, dir, partitionCols.mkString("_")) { p =>
      partitioned(graft.Tables.load(spark, dir, name), p, partitionCols)
    }

  /** Range-SORTED layout of corpus table `name` — the fourth layout leg
    * (buckets serve joins: Bucketing; directories serve categorical
    * filters: [[ensurePartitioned]]; SORT ORDER serves range predicates):
    * `repartitionByRange(numRanges)` + `sortWithinPartitions` on
    * `sortCol` clusters the table globally, so every parquet row group's
    * min/max band on `sortCol` is tight and a range predicate skips all
    * non-overlapping row groups inside the reader — IO ∝ the selected
    * band, not the table (PlanLint's q133 test pins the scan-metrics
    * drop). The reference's keyed point-lookup
    * (src/storage.py:76-88 `fetch_final_by_ids`) generalized to range
    * predicates over immutable parquet. `numRanges` is the skip
    * granularity at test scale; at production scale each range file
    * holds many 128 MB row groups. */
  def ensureSorted(spark: SparkSession, dir: String, name: String,
                   sortCol: String, numRanges: Int = 8): String =
    fixture("sorted", name, dir, sortCol, numRanges) { p =>
      // cloned session (own SQLConf, shared context): the sorted layout
      // MUST write INT64-micros timestamps — the INT96 session default
      // carries no usable min/max stats and no predicate pushdown, which
      // silently disables the row-group skipping this layout exists for.
      // A clone instead of a session-wide flip because the driver's
      // comparator reads INT96 as tz-naive: flipping the main session
      // broke hash parity on every timestamp-emitting oracle query
      // (q44/q64/q127, r13). Conf-isolated, so concurrent Verify threads
      // never observe a mutated session.
      val writer = spark.newSession()
      writer.conf.set("spark.sql.parquet.outputTimestampType",
        "TIMESTAMP_MICROS")
      graft.Tables.load(writer, dir, name)
        .repartitionByRange(numRanges, col(sortCol))
        .sortWithinPartitions(sortCol)
        .write.mode("overwrite").parquet(p)
    }

  /** STORED trained-model table (VERDICT r15 #2 — the learned tier's
    * train-once/serve-many leg): `train` runs AT MOST ONCE per (JVM,
    * corpus dir, modelName, paramsToken) and its bounded weight table is
    * persisted as plain parquet; every subsequent caller pays a bounded
    * parquet read instead of the training loop. `paramsToken` must
    * encode every training hyperparameter that changes the weights (it
    * keys the cache). */
  def ensureModel(spark: SparkSession, dir: String, modelName: String,
                  paramsToken: String)(train: => DataFrame): String =
    fixture("model", modelName, dir, paramsToken) { p =>
      train.write.mode("overwrite").parquet(p)
    }

  private def corpusDocs(spark: SparkSession, dir: String,
                         name: String): DataFrame =
    graft.Tables.load(spark, dir, name).select(col("doc_id"), col("text"))

  // ---- partition keys ---------------------------------------------------

  /** The postings partition key: first two hex chars of md5(token) —
    * 256 directories regardless of vocabulary size (partitioning by the
    * raw token would mint one directory per vocab entry, unbounded at
    * corpus scale), engine-portable, and computable on the DRIVER for a
    * literal probe phrase so the partition filter is a plan-time
    * constant (directory pruning, not a runtime filter). */
  def tokenPart(token: Column): Column = substring(md5(token), 1, 2)

  /** Driver-side twin of [[tokenPart]] — MUST produce the identical
    * prefix for the identical token or probes read the wrong
    * directories (spec-pinned in SourcesSpec). */
  def tokenPartOf(token: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    f"${d(0) & 0xff}%02x".take(2)
  }

  /** Doc-id partition key of the BM25 layout's doclen leg — [[tokenPart]]
    * over the id's decimal string: 256 bounded directories at any corpus
    * size, so delete/merge existence checks prune to the touched ids'
    * directories instead of scanning a corpus-sized table. */
  def idPart(id: Column): Column = tokenPart(id.cast("string"))

  // ---- the generation-stamped layout protocol -------------------------

  /** Hard cap on a layout's ACCUMULATED tombstone rows (across all
    * delete batches since the last compaction) — a driver-priced input
    * bound enforced once, like Similarity.MaxQueryBatch for query
    * batches, applied to the delete verb: every probe BROADCASTS the
    * tombstone table into its anti-join and every delete batch writes it
    * through one task (`coalesce(1)`), so "bounded between compactions"
    * must be enforced, not assumed (VERDICT r17). At the cap (~16 MB of
    * (id, gen) rows) both shapes are still comfortably cheap; a
    * takedown bigger than this routes through compaction — which is
    * corpus-proportional anyway at that fraction. */
  val MaxTombstoneRows: Long = 1L << 20

  /** The commit protocol of a mutable serving layout, written once.
    *
    * READ-TIME ATOMIC COMMIT (VERDICT r17 missing-#5): every stored row
    * carries a generation stamp `gen` and the layout's 1-row sidecar
    * (`genDir`) carries the committed counter `next_gen`. Rows are
    * visible iff `gen < next_gen`, a gen-aware tombstone (id, del_gen)
    * kills only rows with `gen < del_gen` and is ACTIVE only once
    * `del_gen < next_gen`. Every write verb lands its sidecar write LAST
    * ([[commit]]), so that single-file overwrite is the commit point: a
    * crash anywhere inside a verb leaves its appended segments and
    * tombstones invisible, and the layout reads as its pre-verb state.
    * Recovery: [[vacuum]] before the next write — a retry without it
    * would append a second copy of the torn batch at the SAME generation
    * and the eventual commit would double it (spec-pinned).
    *
    * SINGLE WRITER (VERDICT r18 #2): two INTERLEAVED writers would both
    * read generation g, both append rows stamped g, and the second flip
    * would commit both batches indistinguishably. Every write verb
    * therefore opens by atomically creating `_writer.lock` (the loser
    * fails at verb START with zero bytes written) and closes by deleting
    * its own lock; a crashed holder leaves it, and [[vacuum]] (run by
    * hand or fired by the maintain* policy) collects the crash's torn
    * files and releases it. A production deployment plays the same role
    * with a table format's optimistic-commit CAS.
    *
    * ONE ON-DISK FORMAT: every builder and verb writes the sidecar and
    * stamps every leg row, so a root with no sidecar is either EMPTY
    * (the bootstrap: it reads as generation 1) or not a layout of this
    * format, and is refused ([[requireSidecar]]).
    *
    * Per layout: `legs` (directory, partition column), where the counter
    * lives, the tombstone table, whether tombstones carry `del_gen`
    * (postings' are id-only by design), the from-scratch builder a
    * refusal names, and the directories a compaction or reindex swaps
    * (`swaps`, recovered before every write). */
  private final case class GenLayout(root: String, kind: String,
                                     legs: Seq[(String, String)],
                                     genDir: String, delDir: String,
                                     genTombs: Boolean, builder: String,
                                     swaps: Seq[String]) {

    /** Run `body` as the layout's single writer, after finishing any
      * swap a crash interrupted. A root missing its directory can only be
      * mid-swap, and the lock lives inside it, so that root is recovered
      * before the lock, and a root without a sidecar is refused
      * ([[requireSidecar]]) before it too; everything else only once the
      * lock is held, which keeps a refused writer from touching anything.
      *
      * A body that THROWS may already have appended segments or
      * tombstones at the committed generation, and the next commit would
      * publish them. So they are [[vacuum]]ed while the lock still
      * fences other writers, and vacuum releases the lock last; if that
      * vacuum fails too, the lock stays held, exactly as after a crash:
      * the next writer is refused and maintain* recovers. */
    def write[T](spark: SparkSession, verb: String)(body: => T): T = {
      if (!Files.exists(Paths.get(root))) recoverSwap(root)
      requireSidecar()
      val token = acquireWriter(verb)
      val out =
        try {
          swaps.foreach(recoverSwap)
          body
        } catch {
          case r: ControlThrowable => // a non-local return: body finished
            releaseWriter(token)
            throw r
          case NonFatal(e) =>
            try vacuum(spark) catch { case NonFatal(v) => e.addSuppressed(v) }
            throw e
        }
      releaseWriter(token)
      out
    }

    private def acquireWriter(verb: String): String = {
      Files.createDirectories(Paths.get(root))
      val lock = lockPath(root)
      val token = s"pid=${ProcessHandle.current().pid()} verb=$verb " +
        s"nonce=${java.util.UUID.randomUUID()}"
      try {
        Files.createFile(lock) // atomic: exactly one creator wins
        Files.writeString(lock, token)
        token
      } catch {
        case _: FileAlreadyExistsException =>
          throw new IllegalStateException(
            s"$verb: $root already has a writer (_writer.lock held) — " +
              "write verbs are single-writer by contract, the second " +
              "writer is refused before it appends anything; if the " +
              "holder crashed, run the matching vacuum* (or maintain*) " +
              "to collect its torn files and release the lock")
      }
    }

    // token-guarded: only the acquiring verb's own lock is deleted — a
    // lock that rode out with a root swap must not take a NEXT writer's
    private def releaseWriter(token: String): Unit = {
      val lock = lockPath(root)
      try {
        if (Files.exists(lock) && Files.readString(lock) == token)
          Files.deleteIfExists(lock)
      } catch { case _: java.io.IOException => () }
    }

    /** Refuse a root that has leg files but no sidecar — no writer
      * leaves one, so it is not a layout of this format. Directory
      * syscalls only, and only when the sidecar is absent. A held writer
      * lock exempts the root: its own verb is mid-bootstrap, or a crashed
      * one left it for [[vacuum]], and the lock's refusal names that. */
    def requireSidecar(): Unit =
      if (!Files.isDirectory(Paths.get(genDir)) && !writerLockHeld(root) &&
          legs.exists(l => hasParquetFiles(l._1)))
        throw new IllegalStateException(
          s"$root has $kind leg files but no generation sidecar " +
            s"(${genDir.stripPrefix(root + "/")}/): it is not a " +
            s"generation-stamped layout; rebuild it with $builder")

    /** The committed sidecar row (BM25 stats, the postings/IVF counter),
      * None on an empty root. The read is ONE tiny 1-row job,
      * but it runs at every probe CONSTRUCTION (~0.2 s a job at
      * local[32], measured r18), so it is cached against the sidecar
      * directory's names+mtimes — a few syscalls, no Spark job; a commit
      * from ANY process on this filesystem invalidates it. */
    def sidecar(spark: SparkSession): Option[Row] =
      if (Files.isDirectory(Paths.get(genDir)))
        Some(cachedBy(sidecarCache, genDir)(spark.read.parquet(genDir).head()))
      else { requireSidecar(); None }

    /** The committed generation; an empty root reads as 1. */
    def horizon(spark: SparkSession): Long =
      sidecar(spark).fold(1L)(_.getAs[Long]("next_gen"))

    /** The visibility horizon of a read AS OF `asOfGen` — clamped to the
      * committed counter (the committed state IS the newest history). */
    def asOf(spark: SparkSession, asOfGen: Option[Long]): Long = {
      val c = horizon(spark)
      asOfGen.fold(c)(math.min(_, c))
    }

    /** The tombstone table, when any committed or torn delete left one
      * (a vacuum that collected every tombstone file leaves none). */
    def deletes(spark: SparkSession): Option[DataFrame] =
      if (hasParquetFiles(delDir)) Some(spark.read.parquet(delDir))
      else None

    /** Accumulated tombstone rows, cached against the table's file
      * signature: it only changes when a delete lands, so every verb's
      * bound check and every describe pays syscalls, not a count job
      * (VERDICT r18 #5). */
    def tombstones(spark: SparkSession): Long = tombCount(deletes(spark))

    private def tombCount(existing: => Option[DataFrame]): Long =
      cachedBy(tombCountCache, delDir)(existing.fold(0L)(_.count()))

    /** Rows of one leg visible at generation `g`: uncommitted rows
      * (gen ≥ g) dropped, then a broadcast anti-join against the ACTIVE
      * tombstones — gen-aware (a re-added id, stamped past its tombstone,
      * survives; an uncommitted tombstone kills nothing) or, on an
      * id-only layout, killing every version. No tombstone table ⇒ no
      * join: such layouts plan as before. */
    def visible(rows: DataFrame, dels: Option[DataFrame], idCol: String,
                g: Long): DataFrame = {
      val committed = rows.filter(col("gen") < lit(g))
      dels.fold(committed) { d =>
        if (!genTombs)
          committed.join(broadcast(d.select(col(idCol))), Seq(idCol),
            "left_anti")
        else {
          val t = d.filter(col("del_gen") < lit(g))
            .select(col(idCol).as("__del_id"), col("del_gen").as("__del_gen"))
          committed.join(broadcast(t),
            committed(idCol) === t("__del_id") &&
              committed("gen") < t("__del_gen"),
            "left_anti")
        }
      }
    }

    /** Append `ids` as ONE tombstone segment stamped `del_gen = g`
      * (id-only on an id-only layout), after enforcing
      * [[MaxTombstoneRows]] on the accumulated table. */
    def appendTombstones(verb: String, existing: Option[DataFrame],
                         ids: DataFrame, n: Long, g: Long): Unit = {
      val total = tombCount(existing) + n
      require(total <= MaxTombstoneRows,
        s"$verb: $total tombstone rows would exceed MaxTombstoneRows=" +
          s"$MaxTombstoneRows — the tombstone table is broadcast into " +
          s"every probe; run compact$kind (or maintain$kind) first")
      (if (genTombs) ids.withColumn("del_gen", lit(g)) else ids)
        .coalesce(1).write.mode("append").parquet(delDir)
    }

    /** The commit point: check that the committed generation is still
      * the `g` the verb started from (with the lock held this always
      * holds; it catches a writer that bypassed the lock), then write the
      * 1-row sidecar `row` — LAST. */
    def commit(spark: SparkSession, verb: String, g: Long,
               into: String = genDir)(row: Column*): Unit = {
      val actual = horizon(spark)
      require(actual == g,
        s"$verb: commit-flip CAS failed — committed generation moved " +
          s"from $g to $actual under a held writer lock (an " +
          "interleaved writer bypassed the single-writer contract); " +
          "layout needs vacuum + retry")
      writeRow(spark, into)(row: _*)
    }

    /** CRASH RECOVERY — the engine-side half of the at-least-once
      * contract: finish an interrupted swap, drop every leg file whose
      * rows are all UNCOMMITTED (each append writes whole files of one
      * batch, so a file is torn iff its minimum gen is) and every
      * tombstone file that never committed, then release the crashed
      * verb's lock LAST. Such files are invisible already; collecting
      * them makes a RETRY of the torn verb safe. Id-only tombstones
      * are all committed. Returns the number of files removed. */
    def vacuum(spark: SparkSession): Long = {
      swaps.foreach(recoverSwap)
      val g = horizon(spark)
      val removed = legs.map(l => vacuumLeg(spark, l._1, "gen", g)).sum +
        (if (genTombs) vacuumLeg(spark, delDir, "del_gen", g) else 0L)
      Files.deleteIfExists(lockPath(root))
      removed
    }

    /** Fold the tombstones INTO the physical layout: every leg is
      * rewritten through [[visible]] at the committed generation (torn
      * segments never compact into liveness) into one file per
      * directory via [[swapInStaged]], then the tombstone table is
      * dropped — LAST, so a crash between legs still reads with correct
      * visibility. A root swap re-stages the sidecar at its PRESERVED
      * counter, so generations stay monotone and the rename carries it
      * with the data (a post-swap write would leave a window in which
      * the root has no counter — ADVICE r18); the tombstones ride the old
      * root out. Row visibility is identical before and after, probes of
      * the result plan no tombstone scan, and AS-OF history is truncated
      * to the fold point. */
    def compact(spark: SparkSession, idCol: String): Unit =
      write(spark, s"compact$kind") {
        val g = horizon(spark)
        val side = sidecar(spark)
        val dels = deletes(spark)
        legs.foreach { case (leg, part) =>
          swapInStaged(leg) { staged =>
            visible(spark.read.parquet(leg), dels, idCol, g)
              .repartition(col(part))
              .write.partitionBy(part).mode("overwrite").parquet(staged)
            if (leg == root) side.foreach(r =>
              spark.createDataFrame(java.util.List.of(r), r.schema)
                .write.parquet(staged + genDir.stripPrefix(root)))
          }
        }
        removeDir(delDir)
      }

    /** Worst-directory segment statistics of the first leg. */
    def segments: (Int, Int) = partDirStats(legs.head._1, legs.head._2 + "=")
  }

  private def bm25Layout(path: String) = GenLayout(path, "Bm25Index",
    Seq(s"$path/tf" -> "tok_part", s"$path/doclen" -> "doc_part"),
    s"$path/stats", s"$path/deletes", genTombs = true, "writeBm25Index",
    swaps = Seq(s"$path/tf", s"$path/doclen"))

  // postings DATA lives at the layout root (tok_part=* directories), so
  // the sidecars are underscore-prefixed: Spark's file index ignores
  // _-hidden siblings, a visible one would break partition discovery
  private def postingsLayout(path: String) = GenLayout(path, "Postings",
    Seq(path -> "tok_part"), s"$path/_gen", s"$path/_deletes",
    genTombs = false, "writePostings", swaps = Seq(path))

  // an empty codes leg without the gen/ sidecar (the streaming
  // bootstrap: codebook and centroids only) reads as (next_gen 1,
  // last_merge_gen 0)
  private def ivfLayout(path: String) = GenLayout(path, "IvfPqIndex",
    Seq(s"$path/codes" -> "bucket"), s"$path/gen", s"$path/deletes",
    genTombs = true, "writeIvfCodes", swaps = Seq(path, s"$path/codes"))

  private def lockPath(path: String): java.nio.file.Path =
    Paths.get(path, "_writer.lock")

  /** Whether a write verb currently holds (or a crashed one abandoned)
    * the layout's writer lock — the describe/maintain torn-state
    * surface: syscall-priced, and for the layout's single writer a
    * held lock OBSERVED BETWEEN its own verbs can only be a crashed
    * predecessor. */
  def writerLockHeld(path: String): Boolean = Files.exists(lockPath(path))

  private val sidecarCache = new ConcurrentHashMap[String, (String, Row)]()
  private val tombCountCache = new ConcurrentHashMap[String, (String, Long)]()

  /** `read`, cached per directory against its names+mtimes signature. */
  private def cachedBy[V](cache: ConcurrentHashMap[String, (String, V)],
                          dir: String)(read: => V): V = {
    val sig = dirSignature(dir)
    val hit = cache.get(dir)
    if (hit != null && hit._1 == sig) hit._2
    else {
      val v = read
      cache.put(dir, (sig, v))
      v
    }
  }

  /** Run `body` with a `cache` that persists a DataFrame for the rest
    * of the call; every DataFrame it cached is unpersisted on exit. */
  private def withCached[T](body: (DataFrame => DataFrame) => T): T = {
    val held = scala.collection.mutable.ArrayBuffer[DataFrame]()
    try body { df => held += df; df.cache() }
    finally held.foreach(_.unpersist())
  }

  private def dirSignature(path: String): String = {
    val d = Paths.get(path)
    if (!Files.isDirectory(d)) return "<absent>"
    val ls = Files.list(d)
    try ls.iterator().asScala
      .map(p => s"${p.getFileName}:${Files.getLastModifiedTime(p).toMillis}")
      .toSeq.sorted.mkString(",")
    finally ls.close()
  }

  private def writeRow(spark: SparkSession, dir: String)(row: Column*): Unit =
    spark.range(1).select(row: _*).write.mode("overwrite").parquet(dir)

  /** Drop the files of one leg whose minimum `genCol` is ≥ the committed
    * generation — whole-file torn-batch collection (one narrow columnar
    * scan). */
  private def vacuumLeg(spark: SparkSession, legPath: String,
                        genCol: String, committedGen: Long): Long = {
    if (!hasParquetFiles(legPath)) return 0L
    val torn = spark.read.parquet(legPath)
      .select(input_file_name().as("__f"), col(genCol).as("__g"))
      .groupBy(col("__f")).agg(min(col("__g")).as("__mn"))
      .filter(col("__mn") >= committedGen)
      .collect().map(_.getString(0))
    torn.foreach(uri =>
      Files.deleteIfExists(Paths.get(java.net.URI.create(uri).getPath)))
    torn.length.toLong
  }

  /** Finish or undo a swap of `target` that a crash interrupted, with
    * syscalls only. [[swapInStaged]] renames `target` to `.old` only
    * once `.staged` is complete, so: target present — drop any residue;
    * target absent with both siblings — the crash fell between the two
    * renames, roll `.staged` forward; only `.old` — roll it back. A lone
    * `.staged` beside an absent target is a write that never reached its
    * renames and is dropped. */
  private def recoverSwap(target: String): Unit = {
    val (t, staged, old) = (Paths.get(target), Paths.get(target + ".staged"),
      Paths.get(target + ".old"))
    if (!Files.exists(t) && Files.isDirectory(old))
      Files.move(if (Files.isDirectory(staged)) staged else old, t)
    removeDir(staged.toString)
    removeDir(old.toString)
  }

  /** Stage-and-swap rewrite of one layout directory — the mergeState
    * commit protocol applied to compaction (ADVICE r17): `write`
    * produces the replacement into a `.staged` sibling (so the plan can
    * STREAM from the directory it replaces — no block-manager
    * materialization of the whole leg), then two renames swap it in. A
    * crash before the first rename leaves the old directory intact; one
    * between the renames is finished by [[recoverSwap]], which every
    * write verb and vacuum* runs first. A production deployment flips a
    * layout-version pointer instead (the documented table-format
    * target). */
  private def swapInStaged(target: String)(write: String => Unit): Unit = {
    recoverSwap(target)
    val staged = target + ".staged"
    write(staged)
    val t = Paths.get(target)
    if (Files.isDirectory(t)) Files.move(t, Paths.get(target + ".old"))
    Files.move(Paths.get(staged), t)
    removeDir(target + ".old")
  }

  /** Recursive local-filesystem directory removal (deepest-first). */
  private def removeDir(path: String): Unit = {
    val d = Paths.get(path)
    if (Files.isDirectory(d)) {
      val walk = Files.walk(d)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
      finally walk.close()
    }
  }

  /** Whether a layout leg holds any readable parquet file — the
    * empty-bootstrap discriminator (a `partitionBy` write of zero rows
    * produces a schemaless directory that `spark.read.parquet` cannot
    * open). */
  def hasParquetFiles(path: String): Boolean = {
    val d = Paths.get(path)
    if (!Files.isDirectory(d)) return false
    val walk = Files.walk(d)
    try walk.anyMatch(p => p.getFileName.toString.endsWith(".parquet"))
    finally walk.close()
  }

  /** Driver-side (directory count, worst per-directory parquet-file
    * count) of a partitioned layout — the segment-count metric every
    * describe/maintain policy shares. */
  private def partDirStats(root: String, prefix: String): (Int, Int) = {
    val r = Paths.get(root)
    var dirs = 0
    var maxFiles = 0
    if (Files.isDirectory(r)) {
      val it = Files.list(r)
      try it.iterator().forEachRemaining { d =>
        if (Files.isDirectory(d) &&
            d.getFileName.toString.startsWith(prefix)) {
          dirs += 1
          val fl = Files.list(d)
          try maxFiles = math.max(maxFiles, fl.iterator().asScala
            .count(_.getFileName.toString.endsWith(".parquet")))
          finally fl.close()
        }
      } finally it.close()
    }
    (dirs, maxFiles)
  }

  /** The write every partitioned-layout pass shares: cluster rows by
    * their partition key FIRST, so each writer task owns whole
    * partition groups and each directory gains ONE file per pass
    * instead of one per (task × directory) — without it a 32-task
    * write of 256 directories opens 8192 tiny files and the write
    * (and every later scan) is file-count-bound, not byte-bound
    * (measured: the 10% BM25 merge cost as much as the 100% rebuild).
    * At a scale where one directory outgrows one task, add a salt
    * column to the repartition — same layout contract. */
  private def writeClustered(df: DataFrame, path: String,
                             partitionCol: String, mode: String): Unit =
    df.repartition(col(partitionCol))
      .write.partitionBy(partitionCol).mode(mode).parquet(path)

  /** Segment-MAINTENANCE compaction of a partitioned layout: rewrite
    * the accumulated append files into ONE file per directory —
    * row-identical, a maintenance op, not a semantic one (the Lucene
    * segment-merge analog; q175 oracle-checks exactly that). Cost ∝
    * the whole layout; run it on a cadence, not per batch. Streams
    * through [[swapInStaged]], never a read-what-you-overwrite plan. */
  def compactPartitioned(spark: SparkSession, path: String,
                         partitionCol: String): Unit =
    swapInStaged(path) { staged =>
      spark.read.parquet(path).repartition(col(partitionCol))
        .write.partitionBy(partitionCol).mode("overwrite").parquet(staged)
    }

  /** Drop a layout's tombstone table WITHOUT rewriting data — the
    * fresh-overwrite companion: a layout rebuilt in place must never
    * inherit stale tombstones ([[writeBm25Index]] calls this
    * internally; manual codes/ overwrites call it explicitly). */
  def clearTombstones(path: String): Unit = removeDir(s"$path/deletes")

  // ---- positional postings ----------------------------------------------

  /** Token-partitioned positional postings of corpus table `name` —
    * the STORED inverted index the lexical retrieval tier probes
    * (VERDICT r14 #5). One map-only invertedIndex pass, written
    * partitioned by [[tokenPart]] (256 bounded directories); every
    * phrase probe then reads ONLY its tokens' directories via
    * [[prunedPostings]] — probe IO tracks the phrase's posting mass,
    * not corpus bytes. */
  def ensurePostings(spark: SparkSession, dir: String,
                     name: String = "documents"): String =
    fixture("postings", name, dir) { p =>
      writePostings(spark, graft.Tables.load(spark, dir, name), p)
    }

  /** The (token, doc_id, pos, tok_part) rows of a postings layout for
    * `docs` (doc_id, text) — q151's tokenization (split on space,
    * empties dropped), one map-only posexplode. */
  private def postingsRows(docs: DataFrame): DataFrame =
    graft.operators.Retrieval.invertedIndex(
      docs.select(col("doc_id"),
        filter(split(col("text"), " "), t => t =!= "").as("toks")),
      "doc_id", col("toks"))
      .withColumn("tok_part", tokenPart(col("token")))

  /** From-scratch write of a postings layout: rows stamped gen 0 and
    * the `_gen` sidecar holding next_gen 1 — the [[writeBm25Index]]
    * stance for the positional leg. */
  def writePostings(spark: SparkSession, docs: DataFrame,
                    path: String): Unit = {
    removeDir(s"$path/_deletes")
    writeClustered(postingsRows(docs).withColumn("gen", lit(0L)),
      path, "tok_part", "overwrite")
    writeRow(spark, s"$path/_gen")(lit(1L).as("next_gen"))
  }

  /** Fold a FRESH document batch into a stored [[ensurePostings]]
    * layout — the [[mergeBm25Index]] segment-append discipline for the
    * POSITIONAL leg: fresh (token, doc_id, pos) rows are one map-only
    * posexplode ∝ |fresh|, appended as new files inside their
    * md5-prefix directories; nothing existing is read or rewritten.
    * They are stamped `gen = next_gen` and the sidecar flip lands LAST.
    * Same new-doc-id guard contract as the BM25 merge (gen-aware, so a
    * torn batch cannot trip the guard on its own retry). */
  def mergePostings(spark: SparkSession, path: String, fresh: DataFrame,
                    checkNewDocIds: Boolean = true): Unit = {
    val lay = postingsLayout(path)
    lay.write(spark, "mergePostings") {
      val g = lay.horizon(spark)
      val stamped = postingsRows(fresh).withColumn("gen", lit(g))
      val freshPost = if (checkNewDocIds) stamped.cache() else stamped
      try {
        if (checkNewDocIds) {
          val touched = freshPost.select(col("tok_part")).distinct()
            .collect().map(_.getString(0)).toSeq
          if (touched.isEmpty) return // empty batch: layout unchanged
          // dead rows still stand until compaction: no tombstones here
          val existing = lay.visible(spark.read.parquet(path)
            .filter(col("tok_part").isin(touched: _*)), None, "doc_id", g)
          require(existing
              .join(freshPost.select(col("doc_id")).distinct(),
                Seq("doc_id"), "left_semi").head(1).isEmpty,
            "mergePostings: fresh batch contains doc_ids already in the " +
              "index — merge takes the delta split's NEW side; changed " +
              "docs need delete-then-compact, not a double posting list")
        }
        writeClustered(freshPost, path, "tok_part", "append")
        lay.commit(spark, "mergePostings", g)(lit(g + 1L).as("next_gen"))
      } finally freshPost.unpersist()
    }
  }

  /** [[vacuumBm25Index]] for a postings layout. */
  def vacuumPostings(spark: SparkSession, path: String): Long =
    postingsLayout(path).vacuum(spark)

  /** The [[ensurePostings]] layout built INCREMENTALLY — q176's
    * artifact: build from the doc_id%3≠2 slice, fold the %3=2 slice in
    * as a fresh-batch [[mergePostings]]. A phrase probe of the merged
    * layout must be bit-for-bit the from-scratch q158 probe. */
  def ensurePostingsMerged(spark: SparkSession, dir: String,
                           name: String = "documents"): String =
    fixture("postings-merged", name, dir) { p =>
      postingsSliced(spark, corpusDocs(spark, dir, name), p)
    }

  private def postingsSliced(spark: SparkSession, docs: DataFrame,
                             p: String): Unit = {
    writePostings(spark, docs.filter(col("doc_id") % 3 =!= 2), p)
    mergePostings(spark, p, docs.filter(col("doc_id") % 3 === 2))
  }

  /** Delete documents from a stored [[ensurePostings]] layout at cost
    * ∝ |ids| — the [[deleteFromBm25Index]] verb for the positional leg,
    * minus the stats arithmetic: append the ids to the tombstone table;
    * every [[prunedPostings]] probe anti-joins them before the phrase
    * algebra. Idempotent. */
  def deleteFromPostings(spark: SparkSession, path: String,
                         ids: DataFrame,
                         idCol: String = "doc_id"): Unit = {
    val lay = postingsLayout(path)
    lay.write(spark, "deleteFromPostings") {
      val cand = ids.select(col(idCol).as("doc_id")).distinct().cache()
      try {
        val existing = lay.deletes(spark)
        val fresh = existing.fold(cand)(old =>
          cand.join(old, Seq("doc_id"), "left_anti"))
        lay.appendTombstones("deleteFromPostings", existing, fresh,
          cand.count(), 0L)
      } finally cand.unpersist()
    }
  }

  /** Fold postings tombstones into the physical layout (one file per
    * md5-prefix directory) and drop the tombstone table — a ROOT swap:
    * the tombstone sidecar lives inside the root and rides the old root
    * out; the gen counter is preserved. Visibility identical before and
    * after; a previously deleted doc_id becomes mergeable again. */
  def compactPostings(spark: SparkSession, path: String): Unit =
    postingsLayout(path).compact(spark, "doc_id")

  /** Health snapshot of a stored postings layout — [[describeBm25Index]]
    * for the positional leg: the posting-row count, the tombstone
    * cardinality (every probe broadcasts the table) and the worst
    * per-directory segment-file count (every probe opens that many
    * footers per pruned directory). Metadata-priced. */
  final case class PostingsIndexInfo(postingRows: Long, tombstoneRows: Long,
                                     dirs: Int, maxFilesPerDir: Int,
                                     staleWriter: Boolean = false)

  /** Compute [[PostingsIndexInfo]] for the layout at `path`. */
  def describePostings(spark: SparkSession, path: String): PostingsIndexInfo = {
    val lay = postingsLayout(path)
    val rows = spark.read.parquet(path).count() // parquet footer metadata
    val (dirs, maxFiles) = lay.segments
    PostingsIndexInfo(rows, lay.tombstones(spark), dirs, maxFiles,
      staleWriter = writerLockHeld(path))
  }

  /** Policy-driven maintenance of a postings layout: [[compactPostings]]
    * fires iff the accumulated tombstones exceed `maxTombstones` (this
    * leg has no dead-row metadata, so the probe toll itself is the
    * trigger) OR any directory holds more than `maxFilesPerDir` append
    * segments; a stale writer lock fires [[vacuumPostings]]. Returns
    * true iff maintenance ran; the decision reads only metadata. */
  def maintainPostings(spark: SparkSession, path: String,
                       maxTombstones: Long = 1024L,
                       maxFilesPerDir: Int = 8): Boolean = {
    val info = describePostings(spark, path)
    val due = info.tombstoneRows > maxTombstones ||
      info.maxFilesPerDir > maxFilesPerDir
    if (info.staleWriter) vacuumPostings(spark, path)
    if (due) compactPostings(spark, path)
    due || info.staleWriter
  }

  /** The q177 lifecycle applied to the POSITIONAL postings leg — q181's
    * artifact: the q176 incremental build (slice → merge), then the
    * doc_id%7=3 docs tombstoned. A phrase probe must equal one over a
    * from-scratch layout of the complement corpus. */
  def ensurePostingsDeleted(spark: SparkSession, dir: String,
                            name: String = "documents"): String =
    fixture("postings-deleted", name, dir) { p =>
      val docs = corpusDocs(spark, dir, name)
      postingsSliced(spark, docs, p)
      deleteFromPostings(spark, p,
        docs.filter(col("doc_id") % 7 === 3).select(col("doc_id")))
    }

  /** Probe-side read of an [[ensurePostings]] layout: the partition
    * filter is built from DRIVER-computed [[tokenPartOf]] literals, so
    * Catalyst prunes non-matching directories at planning time
    * (`PartitionFilters` in the scan — PlanLint-pinned via q158); the
    * residual `token IN (...)` predicate pushes into the parquet reader
    * within the surviving directories. A torn merge's rows stay hidden;
    * `asOfGen` is [[liveCodes]]' SNAPSHOT contract on this leg (merge
    * visibility `gen < G`). Tombstones are id-only, so deletes apply at
    * every horizon. Returns (token, doc_id, pos). */
  def prunedPostings(spark: SparkSession, path: String,
                     tokens: Seq[String],
                     asOfGen: Option[Long] = None): DataFrame = {
    require(tokens.nonEmpty, "prunedPostings needs at least one token")
    val lay = postingsLayout(path)
    val g = lay.asOf(spark, asOfGen)
    val parts = tokens.distinct.map(tokenPartOf).distinct
    lay.visible(spark.read.parquet(path)
        .filter(col("tok_part").isin(parts: _*) &&
          col("token").isin(tokens.distinct: _*)),
        lay.deletes(spark), "doc_id", g)
      .select(col("token"), col("doc_id"), col("pos"))
  }

  // ---- BM25 ---------------------------------------------------------------

  /** The (doc_id, __toks, dl) base every BM25-layout pass starts from —
    * q28's tokenization (`split(text, ' ')`, unfiltered) with the doc
    * length as a long. */
  private def bm25Base(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("__toks"))
      .select(col("doc_id"), col("__toks"),
        size(col("__toks")).cast("long").as("dl"))

  /** The per-(doc, token) index rows of a BM25 layout for `docs` —
    * (token, doc_id, tf, dl, tok_part), the exact column order the tf
    * layout stores. */
  private def bm25TfRows(docs: DataFrame): DataFrame =
    bm25Base(docs)
      .select(col("doc_id"), col("dl"), explode(col("__toks")).as("token"))
      .groupBy(col("token"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("tok_part", tokenPart(col("token")))
      .select(col("token"), col("doc_id"), col("tf"), col("dl"),
        col("tok_part"))

  /** The (doc_id, dl, doc_part) doclen rows of `docs`, partitioned by
    * [[idPart]]; the writer stamps their `gen`. */
  private def bm25DocLen(docs: DataFrame): DataFrame =
    bm25Base(docs).select(col("doc_id"), col("dl"))
      .withColumn("doc_part", idPart(col("doc_id")))

  /** (n_docs, sum_dl) of doclen rows — the exact DECIMAL length sum
    * every stats update adds or subtracts (decimal sums are exact, so
    * association order cannot matter). */
  private def dlSum(dl: DataFrame): DataFrame =
    dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl").cast("decimal(28,6)")).cast("decimal(28,6)")
        .as("sum_dl"))

  /** The stats row (n_docs, avgdl, sum_dl, next_gen): avgdl is EXACTLY
    * `Retrieval.bm25`'s arithmetic (decimal sum, round-6 division); a
    * NULL sum (zero docs) gives the empty-bootstrap shape. */
  private def statsRow(n: Column, sumDl: Column, nextGen: Long): Seq[Column] =
    Seq(n.as("n_docs"), round(sumDl.cast("double") / n, 6).as("avgdl"),
      sumDl.as("sum_dl"), lit(nextGen).as("next_gen"))

  // an EMPTY layout's stats (and an empty aggregate) hold a NULL sum;
  // additively that is zero
  private def sumDl(r: Row): java.math.BigDecimal =
    Option(r.getAs[java.math.BigDecimal]("sum_dl"))
      .getOrElse(java.math.BigDecimal.ZERO)

  /** One from-scratch BM25 layout write over `docs` (must carry doc_id,
    * text): `tf/` partitioned by [[tokenPart]], `doclen/` the one-row-
    * per-doc (doc_id, dl) table partitioned by [[idPart]] (the Lucene
    * norms-file analog — it makes delete/merge existence checks and the
    * delete-side dl lookup prune to the touched ids' directories), and
    * `stats/` the 1-row (n_docs, avgdl, sum_dl, next_gen) table. `sum_dl`
    * keeps the un-divided exact DECIMAL length sum so the incremental
    * verbs update the stats ADDITIVELY/SUBTRACTIVELY and land
    * bit-for-bit on the avgdl a from-scratch build over the changed
    * corpus computes.
    *
    * Every stored row carries a GENERATION stamp (`gen`, here 0) and
    * `stats.next_gen` is the counter the next verb draws from — the
    * discipline that makes UPDATE batch-proportional: a tombstone
    * (doc_id, del_gen) kills only rows with `gen < del_gen`, so a
    * document re-added after its deletion is visible again without any
    * corpus-sized rewrite (q180). */
  def writeBm25Index(docs: DataFrame, path: String): Unit = {
    // a rebuild over a previously-deleted-from path must not inherit
    // stale tombstones (gen restarts at 0, which every old del_gen kills)
    clearTombstones(path)
    dlSum(bm25Base(docs))
      .select(statsRow(col("n_docs"), col("sum_dl"), 1L): _*)
      .write.mode("overwrite").parquet(s"$path/stats")
    writeClustered(bm25TfRows(docs).withColumn("gen", lit(0L)),
      s"$path/tf", "tok_part", "overwrite")
    writeClustered(bm25DocLen(docs).withColumn("gen", lit(0L)),
      s"$path/doclen", "doc_part", "overwrite")
  }

  /** LIVE rows of the layout's doclen leg, pruned to the given
    * [[idPart]] directories — the existence/dl lookup merge's misuse
    * guard and the delete half's stats subtraction run, at cost ∝ the
    * touched ids' directories, never the tf table. */
  private def liveDoclen(spark: SparkSession, lay: GenLayout,
                         parts: Seq[String], dels: Option[DataFrame],
                         g: Long): DataFrame =
    lay.visible(spark.read.parquet(s"${lay.root}/doclen")
      .filter(col("doc_part").isin(parts: _*)), dels, "doc_id", g)

  private def docParts(rows: DataFrame): Seq[String] =
    rows.select(col("doc_part")).distinct()
      .collect().map(_.getString(0)).toSeq // bounded: ≤256 prefixes

  /** Token-partitioned STORED BM25 index of corpus table `name` — the
    * [[ensurePostings]] discipline for the RANKED lexical tier (the
    * Lucene deployment shape): `tf/` holds one (token, doc_id, tf, dl)
    * row per (doc, token) — doc length rides the row, so a probe needs
    * NO doclen join — and `stats/` replays `Retrieval.bm25`'s
    * arithmetic bit-for-bit. */
  def ensureBm25Index(spark: SparkSession, dir: String,
                      name: String = "documents"): String =
    fixture("bm25", name, dir) { p =>
      writeBm25Index(graft.Tables.load(spark, dir, name), p)
    }

  /** THE write step of a BM25 layout: [[mergeBm25Index]],
    * [[deleteFromBm25Index]], [[updateBm25Index]] and one CDC epoch
    * (StreamingJobs.bm25MaintenanceBatch) are each ONE call of it —
    * one writer lock, one commit, so no caller exposes an intermediate
    * generation. Under the lock, all ∝ the batch:
    *  1. the stats sidecar is read once: the committed generation `g`;
    *  2. delete leg (`deletes`, doc_id rows): the ids LIVE at `g`,
    *     probed through their id-pruned doclen directories (never tf);
    *     ids not live are skipped (idempotent, never a double-subtract);
    *  3. the new-id guard, one rule: no add id may be live unless this
    *     epoch tombstones it. `checkNewIds` probes it; a caller whose
    *     delete leg names every add id (update, a CDC epoch) holds it by
    *     construction, and an ingest routed through Delta.split may skip
    *     it;
    *  4. tombstones (doc_id, del_gen = g) append, then the add leg's
    *     tf/doclen rows append stamped PAST them — `g + 1` when this
    *     epoch tombstoned any id, else `g` — so visibility serves exactly
    *     the new version of every doc;
    *  5. ONE stats write lands last — subtract the deleted dl, add the
    *     fresh dl through the exact DECIMAL sum_dl (bit-for-bit the avgdl
    *     a from-scratch build over the changed corpus computes),
    *     `next_gen` one past the last stamp — and is the COMMIT POINT for
    *     tombstones and rows together.
    * An epoch that changes nothing commits nothing. An epoch may leave
    * the layout empty — the [[writeBm25Index]]-over-zero-docs bootstrap
    * stats shape, which a later add leg bootstraps from — unless
    * `allowEmpty` is false. Returns the number of live docs tombstoned. */
  private[graft] def bm25Epoch(spark: SparkSession, path: String,
                               verb: String, deletes: Option[DataFrame],
                               adds: Option[DataFrame],
                               checkNewIds: Boolean = false,
                               allowEmpty: Boolean = true): Long = {
    val lay = bm25Layout(path)
    lay.write(spark, verb)(withCached { cache =>
      val old = lay.sidecar(spark).get
      val oldN = old.getAs[Long]("n_docs")
      val g = old.getAs[Long]("next_gen")
      val dels = lay.deletes(spark)
      // the add leg's doclen rows drive everything batch-sized on that
      // side: the stats delta, the guard's probe and the doclen append
      val freshLen = adds.map(a => cache(bm25DocLen(a)))
      val add = freshLen.map(dlSum(_).head())
      val addN = add.fold(0L)(_.getAs[Long]("n_docs"))
      // n_docs = 0 ⇒ nothing can be LIVE (and the empty doclen leg has
      // no readable schema): no probe at all
      def live(ids: DataFrame): Option[DataFrame] = {
        val parts = if (oldN == 0L) Nil else docParts(ids)
        if (parts.isEmpty) None
        else Some(liveDoclen(spark, lay, parts, dels, g)
          .join(ids.select(col("doc_id")), Seq("doc_id"), "left_semi"))
      }
      val dead = deletes.flatMap(d => live(cache(d.select(col("doc_id"))
        .withColumn("doc_part", idPart(col("doc_id")))))).map(cache)
      val gone = dead.map(dlSum(_).head())
      val cnt = gone.fold(0L)(_.getAs[Long]("n_docs"))
      if (checkNewIds && addN > 0L) live(freshLen.get).foreach { hit =>
        require(dead.fold(hit)(d => hit.join(d.select(col("doc_id")),
            Seq("doc_id"), "left_anti")).head(1).isEmpty,
          s"$verb: fresh batch contains doc_ids LIVE in the index — " +
            "merge takes the delta split's NEW side; changed docs need " +
            "updateBm25Index (or deleteFromBm25Index first), not an " +
            "in-place double-count")
      }
      val n = oldN - cnt + addN
      if (cnt > 0L || addN > 0L) {
        require(n > 0L || allowEmpty,
          s"$verb would empty the index — an empty-stats layout is never " +
            "the silent result of a plain delete; pass allowEmpty = true " +
            "(the CDC maintenance stance) or rebuild")
        if (cnt > 0L) lay.appendTombstones(verb, dels,
          dead.get.select(col("doc_id")), cnt, g)
        val addGen = if (cnt > 0L) g + 1L else g
        if (addN > 0L) {
          writeClustered(bm25TfRows(adds.get).withColumn("gen", lit(addGen)),
            s"$path/tf", "tok_part", "append")
          writeClustered(freshLen.get.withColumn("gen", lit(addGen)),
            s"$path/doclen", "doc_part", "append")
        }
        val zero = java.math.BigDecimal.ZERO
        val s = sumDl(old).subtract(gone.fold(zero)(sumDl))
          .add(add.fold(zero)(sumDl))
        lay.commit(spark, verb, g)(statsRow(lit(n),
          (if (n == 0L) lit(null) else lit(s)).cast("decimal(28,6)"),
          (if (addN > 0L) addGen else g) + 1L): _*)
      }
      cnt
    })
  }

  /** Fold a FRESH document batch into a stored [[ensureBm25Index]]
    * layout at cost ∝ |fresh| + its touched token directories — never a
    * from-scratch rebuild (VERDICT r16 #1; the q93/q120 fresh-vs-state
    * discipline applied to the serving layout itself).
    *
    * `fresh` must carry (doc_id, text) rows whose doc_ids are NEW to
    * the index — the delta split's new side (operators/Delta, the
    * reference's whole incremental contract). The merge is
    * [[bm25Epoch]]'s add leg alone:
    *  1. computes the fresh (token, doc_id, tf, dl) rows — ∝ |fresh|;
    *  2. APPENDS them as new files inside their md5-prefix directories
    *     (the Lucene segment discipline: NOTHING existing is read or
    *     rewritten — a directory rewrite would cost ∝ the OLD rows in
    *     every touched directory);
    *  3. updates the 1-row stats ADDITIVELY through the stored exact
    *     DECIMAL `sum_dl`, landing bit-for-bit on the avgdl a
    *     from-scratch build over old ∪ fresh computes.
    * Probe-equals-rebuild is q171's oracle and SourcesSpec's equality
    * pin. With `checkNewDocIds` (the default) a fresh doc_id LIVE in
    * the index fails loudly — a CHANGED document needs
    * [[updateBm25Index]] (or [[deleteFromBm25Index]] first), not a
    * silent double-count; the guard semi-joins the fresh ids' doclen
    * directories, so an ingest that already routed through Delta.split
    * may pass false. Fresh rows are stamped `gen = stats.next_gen`, so
    * they survive any earlier tombstone for the same id. An empty batch
    * is a no-op. */
  def mergeBm25Index(spark: SparkSession, path: String, fresh: DataFrame,
                     checkNewDocIds: Boolean = true): Unit =
    bm25Epoch(spark, path, "mergeBm25Index", None, Some(fresh),
      checkNewIds = checkNewDocIds)

  /** Delete documents from a stored [[ensureBm25Index]] layout at cost
    * ∝ |deletes| — the Lucene `.del`-file analog (opt-outs,
    * contamination takedowns, dedup evictions): [[bm25Epoch]]'s delete
    * leg alone. Returns the number of documents actually deleted.
    *  1. candidate ids prune the doclen leg to their [[idPart]]
    *     directories; only ids LIVE there count (delete is idempotent,
    *     never a double-subtract);
    *  2. tombstones (doc_id, del_gen = stats.next_gen) APPEND to
    *     `deletes/`; every probe anti-joins them gen-aware;
    *  3. stats update SUBTRACTIVELY through the exact DECIMAL sum_dl,
    *     landing bit-for-bit on the avgdl a from-scratch build over the
    *     complement computes (q177's oracle).
    * Deleting the LAST document is refused by default (an empty-stats
    * layout is a foot-gun for a caller who expects scores next probe);
    * `allowEmpty = true` permits it and writes exactly the
    * [[writeBm25Index]]-over-zero-docs bootstrap stats shape, which a
    * later merge bootstraps from. Between compactions
    * [[MaxTombstoneRows]] bounds the tombstone table — a 100M-doc
    * takedown routes through compaction, not through a broadcast. */
  def deleteFromBm25Index(spark: SparkSession, path: String,
                          deletes: DataFrame,
                          idCol: String = "doc_id",
                          allowEmpty: Boolean = false): Long =
    bm25Epoch(spark, path, "deleteFromBm25Index",
      Some(deletes.select(col(idCol).as("doc_id"))), None,
      allowEmpty = allowEmpty)

  /** UPDATE = delete + re-merge as ONE [[bm25Epoch]] — one lock, one
    * commit flip (VERDICT r18 #5: the chained form commits twice and
    * pays two stats reads, two stats writes and two guard probes): the
    * changed ids LIVE in the index are tombstoned at `del_gen = g`
    * (absent ids skip the tombstone — a changed doc that is NEW is just
    * an add, so update subsumes the merge guard), the changed docs'
    * tf/doclen rows append stamped past them, and the one stats write
    * commits both; the deleted-only state is never exposed. Equivalent
    * to a from-scratch build over the updated corpus (q180's oracle
    * replays THIS verb) and to the chained form's final state
    * (spec-pinned). Returns the number of replaced (previously live)
    * docs. */
  def updateBm25Index(spark: SparkSession, path: String, changed: DataFrame,
                      idCol: String = "doc_id",
                      textCol: String = "text"): Long = {
    val docs = changed.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    bm25Epoch(spark, path, "updateBm25Index", Some(docs.select(col("doc_id"))),
      Some(docs))
  }

  /** Fold accumulated tombstones INTO the physical layout and compact
    * segments: tf/ and doclen/ are rewritten keeping only LIVE rows (one
    * file per directory), then the tombstone table is dropped. Row
    * VISIBILITY is identical before and after (q179 shares q177's
    * oracle) and probes of the compacted layout plan NO tombstone scan
    * — q169's exact shape. Cost ∝ the layout; run on a cadence, not per
    * batch. Only the tf-swapped/doclen-not-yet window is a multi-leg
    * torn state; both legs stay row-consistent individually and the
    * tombstones are dropped LAST, so it reads with correct visibility. */
  def compactBm25Index(spark: SparkSession, path: String): Unit =
    bm25Layout(path).compact(spark, "doc_id")

  /** CRASH-RECOVERY collection of torn segments (the Lucene
    * unreferenced-segment cleanup analog): tf/doclen files whose rows
    * are all uncommitted and tombstone files whose del_gens never
    * committed. Run after a crash, before the next write verb. Cost:
    * one gen-column scan per leg. Returns the number of files removed. */
  def vacuumBm25Index(spark: SparkSession, path: String): Long =
    bm25Layout(path).vacuum(spark)

  /** Health snapshot of a stored BM25 layout — the operational surface
    * every real index exposes (Lucene's SegmentInfos): live docs (from
    * the exact stats), total doclen rows (one per merged doc VERSION —
    * parquet footer metadata), their difference = dead rows awaiting
    * compaction, tombstone count, the generation counter, and the worst
    * per-directory segment-file count of the tf leg. A held writer lock
    * reads as STALE from describe's seat: the layout's single writer
    * calls describe between its own verbs. Metadata-priced. */
  final case class Bm25IndexInfo(liveDocs: Long, doclenRows: Long,
                                 deadDocs: Long, tombstoneRows: Long,
                                 nextGen: Long, tfDirs: Int,
                                 maxTfFilesPerDir: Int,
                                 staleWriter: Boolean = false) {
    /** Fraction of doclen rows that are dead versions — the compaction
      * trigger metric. 0 on a freshly built or just-compacted layout. */
    def deadFraction: Double =
      if (doclenRows == 0L) 0.0 else deadDocs.toDouble / doclenRows
  }

  /** Compute [[Bm25IndexInfo]] for the layout at `path`. */
  def describeBm25Index(spark: SparkSession, path: String): Bm25IndexInfo = {
    val lay = bm25Layout(path)
    val st = lay.sidecar(spark).get
    val live = st.getAs[Long]("n_docs")
    val doclenRows =
      if (live == 0L) 0L else spark.read.parquet(s"$path/doclen").count()
    val (dirs, maxFiles) = lay.segments
    Bm25IndexInfo(live, doclenRows, doclenRows - live, lay.tombstones(spark),
      st.getAs[Long]("next_gen"), dirs, maxFiles,
      staleWriter = writerLockHeld(path))
  }

  /** Policy-driven maintenance — the Lucene merge-policy analog:
    * [[compactBm25Index]] runs iff the layout has accumulated enough
    * debt to amortize the rewrite — dead-version fraction above
    * `maxDeadFraction`, any tf directory holding more than
    * `maxFilesPerDir` append segments, OR the ABSOLUTE tombstone count
    * above `maxTombstones` (at corpus scale the fraction trigger can sit
    * below the [[MaxTombstoneRows]] hard cap forever — a delete loop
    * must self-heal before the cap wedges it; ADVICE r18); a stale
    * writer lock fires [[vacuumBm25Index]]. Returns true iff
    * maintenance ran; the decision reads only metadata. */
  def maintainBm25Index(spark: SparkSession, path: String,
                        maxDeadFraction: Double = 0.2,
                        maxFilesPerDir: Int = 8,
                        maxTombstones: Long = MaxTombstoneRows / 2): Boolean = {
    val info = describeBm25Index(spark, path)
    val due = info.deadFraction > maxDeadFraction ||
      info.maxTfFilesPerDir > maxFilesPerDir ||
      info.tombstoneRows > maxTombstones
    if (info.staleWriter) vacuumBm25Index(spark, path)
    if (due) compactBm25Index(spark, path)
    due || info.staleWriter
  }

  /** Probe-side read of an [[ensureBm25Index]] tf layout — the
    * [[prunedPostings]] contract: driver-computed [[tokenPartOf]]
    * literals prune directories at plan time, the residual
    * `token IN (...)` pushes into the parquet reader. Tombstoned docs
    * vanish from the hit stream BEFORE the df windows, so stored
    * scoring over the survivors replays a complement rebuild
    * bit-for-bit (q177). Returns (token, doc_id, tf, dl).
    *
    * `asOfGen = Some(G)` is the SNAPSHOT read ([[liveCodes]]' AS-OF
    * contract on the lexical leg): pair it with [[bm25StatsAsOf]] so the
    * scores replay the G-horizon stats. Reliable back to the last
    * [[compactBm25Index]]. */
  def prunedBm25Tf(spark: SparkSession, path: String,
                   terms: Seq[String],
                   asOfGen: Option[Long] = None): DataFrame = {
    require(terms.nonEmpty, "prunedBm25Tf needs at least one term")
    val lay = bm25Layout(path)
    val parts = terms.distinct.map(tokenPartOf).distinct
    lay.visible(spark.read.parquet(s"$path/tf")
        .filter(col("tok_part").isin(parts: _*) &&
          col("token").isin(terms.distinct: _*)),
        lay.deletes(spark), "doc_id", lay.asOf(spark, asOfGen))
      .select(col("token"), col("doc_id"), col("tf"), col("dl"))
  }

  /** The 1-row BM25 stats AS OF generation `G` — the snapshot-read
    * companion of `prunedBm25Tf(..., asOfGen)`: the layout keeps only
    * the CURRENT stats row, so the G-horizon (n_docs, avgdl, sum_dl) is
    * RECOMPUTED from the doclen leg's visible rows at G. Exact by
    * construction (decimal sums are association-free), so an AS-OF
    * probe scores exactly as the layout scored then (spec-pinned).
    * Cost: one scan of the NARROW doclen leg. Zero visible docs yields
    * the empty-bootstrap stats shape. Same history horizon as the tf
    * read. */
  def bm25StatsAsOf(spark: SparkSession, path: String,
                    asOfGen: Long): DataFrame = {
    val lay = bm25Layout(path)
    val g = lay.asOf(spark, Some(asOfGen))
    dlSum(lay.visible(spark.read.parquet(s"$path/doclen"),
        lay.deletes(spark), "doc_id", g))
      .select(statsRow(col("n_docs"), col("sum_dl"), g): _*)
  }

  /** The BM25 layout built INCREMENTALLY: build from the doc_id%3=0
    * slice, then fold the %3=1 and %3=2 slices in as two fresh-batch
    * merges (merge-onto-merged, not just merge-onto-built). */
  private def bm25Sliced(spark: SparkSession, docs: DataFrame,
                         p: String): Unit = {
    writeBm25Index(docs.filter(col("doc_id") % 3 === 0), p)
    mergeBm25Index(spark, p, docs.filter(col("doc_id") % 3 === 1))
    mergeBm25Index(spark, p, docs.filter(col("doc_id") % 3 === 2))
  }

  private def bm25Deleted(spark: SparkSession, docs: DataFrame,
                          p: String): Unit = {
    bm25Sliced(spark, docs, p)
    deleteFromBm25Index(spark, p,
      docs.filter(col("doc_id") % 7 === 3).select(col("doc_id")))
  }

  /** q171's artifact: the incremental build, whose probe must be
    * bit-for-bit the from-scratch q169 probe (q171 shares q28's
    * oracle). */
  def ensureBm25IndexMerged(spark: SparkSession, dir: String,
                            name: String = "documents"): String =
    fixture("bm25-merged", name, dir) { p =>
      bm25Sliced(spark, corpusDocs(spark, dir, name), p)
    }

  /** q175's artifact: the incremental build, then [[compactPartitioned]]
    * of the tf directories back to one file each — compaction is
    * maintenance, never semantics (SourcesSpec pins the
    * one-file-per-directory invariant and row identity). */
  def ensureBm25IndexCompacted(spark: SparkSession, dir: String,
                               name: String = "documents"): String =
    fixture("bm25-compact", name, dir) { p =>
      bm25Sliced(spark, corpusDocs(spark, dir, name), p)
      compactPartitioned(spark, s"$p/tf", "tok_part")
    }

  /** q177's artifact: the incremental build, then the doc_id%7=3 docs
    * deleted as one tombstone batch. A probe must equal a from-scratch
    * build over the COMPLEMENT corpus — the visibility join, the
    * subtracted stats and the survivor-only df windows all have to land
    * exactly. */
  def ensureBm25IndexDeleted(spark: SparkSession, dir: String,
                             name: String = "documents"): String =
    fixture("bm25-deleted", name, dir) { p =>
      bm25Deleted(spark, corpusDocs(spark, dir, name), p)
    }

  /** q179's artifact: [[ensureBm25IndexDeleted]]'s lifecycle followed by
    * [[compactBm25Index]]. The probe must STILL equal the complement
    * rebuild while planning q169's tombstone-free shape (PlanLint pins
    * the scan count back at 2). */
  def ensureBm25IndexDeleteCompacted(spark: SparkSession, dir: String,
                                     name: String = "documents"): String =
    fixture("bm25-delcomp", name, dir) { p =>
      bm25Deleted(spark, corpusDocs(spark, dir, name), p)
      compactBm25Index(spark, p)
    }

  /** UPDATE on the serving layout — q180's artifact, the reference's
    * `ON CONFLICT (pk) DO UPDATE` (src/storage.py:41-53) realized on
    * the index itself: build over the full corpus, then replace the
    * doc_id%5=4 docs with their CHANGED versions (text + " fresh
    * join") through the FUSED [[updateBm25Index]] verb. A probe must
    * equal a from-scratch build over the UPDATED corpus (q180's oracle);
    * q186 probes the same layout AS OF the pre-update generation. */
  def ensureBm25IndexUpdated(spark: SparkSession, dir: String,
                             name: String = "documents"): String =
    fixture("bm25-updated", name, dir) { p =>
      val docs = corpusDocs(spark, dir, name)
      writeBm25Index(docs, p)
      updateBm25Index(spark, p,
        docs.filter(col("doc_id") % 5 === 4)
          .select(col("doc_id"),
            concat(col("text"), lit(" fresh join")).as("text")))
    }

  // ---- IVF×PQ -------------------------------------------------------------
  // The q180 generation stamps applied to the vector leg (VERDICT r17
  // #4): the `gen/` sidecar carries (next_gen, last_merge_gen), so
  // UPDATE = delete + re-merge is batch-proportional on vectors exactly
  // as on documents. `last_merge_gen` keeps delete row-idempotent: a
  // tombstone with del_gen > last_merge_gen is FULLY KILLING (gens are
  // only handed out by add legs), so re-deleting an id behind one is a
  // no-op; one at or below it may have been out-merged and a re-delete
  // must stamp a fresh one.

  /** From-scratch write of a codes leg: rows stamped gen 0,
    * sidecar (next_gen 1, last_merge_gen 0), stale tombstones cleared —
    * the [[writeBm25Index]] stance for the vector leg. */
  def writeIvfCodes(spark: SparkSession, codes: DataFrame,
                    path: String): Unit = {
    clearTombstones(path)
    codes.withColumn("gen", lit(0L))
      .write.partitionBy("bucket").mode("overwrite").parquet(s"$path/codes")
    writeRow(spark, s"$path/gen")(lit(1L).as("next_gen"),
      lit(0L).as("last_merge_gen"))
  }

  private def lastMergeGen(spark: SparkSession, lay: GenLayout): Long =
    lay.sidecar(spark).fold(0L)(_.getAs[Long]("last_merge_gen"))

  /** Pad a PQ codebook with ORIGIN-CENTROID rows over the whole
    * (2p+1)² code rectangle: the intrinsic sign/abs-rank code of a
    * vector coded LATER (merge, update) can be one the training
    * population never realized — a sample-trained codebook then has no
    * row for it and the ADC lookup would be undefined (pqAdcDense
    * deliberately NaN-fails on impossible lookups). An unrealized code
    * carries a zero centroid, so that subquantizer scores
    * round(‖q_m‖², 8) — defined, conservative, and exactly replayable by
    * the oracle (q174/q184 pad the same rows). */
  def padIvfPqCodebook(spark: SparkSession, book: DataFrame,
                       m: Int, subDim: Int, probeDims: Int): DataFrame = {
    val radix = 2 * probeDims + 1
    val pad0 = spark.range(m.toLong).select(col("id").as("m"))
      .crossJoin(spark.range((radix * radix).toLong)
        .select(col("id").as("code")))
      .join(book.select(col("m"), col("code")), Seq("m", "code"),
        "left_anti")
      .select(col("m"), col("code"), lit(1L).as("n_vecs"),
        array_repeat(lit(0L), subDim).as("centroid_msum"))
    val pad = book.schema.fields.foldLeft(pad0)((d, f) =>
      d.withColumn(f.name, col(f.name).cast(f.dataType)))
      .select(book.columns.map(col).toIndexedSeq: _*)
    book.unionByName(pad)
  }

  /** The q156 fixed low-id coarse rule: the first `coarseK` vectors are
    * the centroid table (cid, cvec). */
  private def lowIdCoarse(vecs: DataFrame, coarseK: Int): DataFrame =
    vecs.filter(col("vec_id") < coarseK)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))

  /** Build an IVF×PQ layout at `p`: codes of `vecs` against
    * `coarse`, the codebook trained on `vecs` (padded when later verbs
    * may code vectors the training never saw), and the centroids. */
  private def buildIvf(spark: SparkSession, p: String, vecs: DataFrame,
                       coarse: DataFrame, m: Int, subDim: Int,
                       probeDims: Int, padded: Boolean,
                       passthrough: Seq[String] = Nil): Unit = {
    val (codes, book) = Similarity.ivfPqIndexTables(vecs, "vec_id",
      "embedding", coarse, "cid", "cvec", m, subDim, probeDims, passthrough)
    writeIvfCodes(spark, codes, p)
    (if (padded) padIvfPqCodebook(spark, book, m, subDim, probeDims) else book)
      .write.mode("overwrite").parquet(s"$p/codebook")
    coarse.write.mode("overwrite").parquet(s"$p/centroids")
  }

  /** The %5=4 vectors replaced by their reversed versions (exact float
    * re-ordering both engines replay bit-for-bit) — the update fixture. */
  private def reversedFifth(vecs: DataFrame): DataFrame =
    vecs.filter(col("vec_id") % 5 === 4)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"))

  /** Bucket-partitioned STORED IVF×PQ index of corpus table `name` —
    * the materialized ANN serving layout: `codes/` holds (vec_id, codes,
    * bucket, label) written `partitionBy("bucket")` so a probe's coarse
    * routing prunes DIRECTORIES, `codebook/` the exact integer-sum PQ
    * codebook, `centroids/` the coarse table (cid, cvec) — here the
    * q156 fixed low-id rule. The label rides the codes layout as the
    * FAISS-style payload column, so stored-index mining disqualifies
    * in-scan without re-joining the corpus. Probes pay only
    * probed-bucket IO + two bounded reads. */
  def ensureIvfPqIndex(spark: SparkSession, dir: String,
                       name: String = "embeddings", coarseK: Int = 8,
                       m: Int = 4, subDim: Int = 16,
                       probeDims: Int = 4): String =
    fixture("ivfpq", name, dir, coarseK, m, subDim, probeDims) { p =>
      val vecs = graft.Tables.load(spark, dir, name)
      buildIvf(spark, p, vecs, lowIdCoarse(vecs, coarseK), m, subDim,
        probeDims, padded = false, passthrough = Seq("label"))
    }

  /** THE write step of an IVF×PQ layout — [[bm25Epoch]]'s contract on
    * the vector leg: [[mergeIvfPqIndex]], [[deleteFromIvfPqIndex]],
    * [[updateIvfPqIndex]] and one CDC epoch
    * (StreamingJobs.ivfPqMaintenanceBatch) are each ONE call, under one
    * writer lock with one commit. Under the lock:
    *  1. the gen sidecar is read once: `g` and `last_merge_gen`;
    *  2. delete leg (`deletes`, `idCol` rows): every candidate is
    *     tombstoned except ids already behind a COMMITTED FULLY KILLING
    *     tombstone (last_merge_gen < del_gen < g — gens are only handed
    *     out by adds, so such an id has no live row); codes are
    *     bucket-partitioned, there is no id-pruned leg to probe
    *     liveness cheaply, so a brand-new id gets a harmless kill-nothing
    *     stamp that compaction folds away;
    *  3. add leg: `adds` encodes rows against the layout's FROZEN
    *     centroid table (codebook and centroids never change here);
    *  4. the new-id guard, one rule: no add id may be live unless this
    *     epoch tombstones it — probed under `checkNewIds` over the add
    *     buckets' directories;
    *  5. tombstones append at `del_gen = g`, codes append stamped past
    *     them (`g + 1` when this epoch tombstoned any id, else `g`), and
    *     the sidecar (next_gen one past the last stamp, last_merge_gen
    *     the add stamp) lands last.
    * An epoch that changes nothing commits nothing. */
  private[graft] def ivfPqEpoch(spark: SparkSession, path: String,
                                verb: String, idCol: String,
                                deletes: Option[DataFrame],
                                adds: Option[DataFrame => DataFrame],
                                checkNewIds: Boolean = false): Unit = {
    val lay = ivfLayout(path)
    lay.write(spark, verb)(withCached { cache =>
      val g = lay.horizon(spark)
      val lastMerge = lastMergeGen(spark, lay)
      val dels = lay.deletes(spark)
      val codesExist = hasParquetFiles(s"$path/codes")
      val fresh = deletes.map { d =>
        val cand = cache(d.select(col(idCol)).distinct())
        dels.fold(cand)(old => cand.join(
          old.filter(col("del_gen") > lastMerge && col("del_gen") < lit(g))
            .select(col(idCol)),
          Seq(idCol), "left_anti"))
      }
      val freshCnt = fresh.fold(0L)(_.count())
      val out = adds.map(enc =>
        cache(enc(spark.read.parquet(s"$path/centroids"))))
      val buckets = out.fold(Array.empty[Long])(_.select(col("bucket"))
        .distinct().collect().map(_.getLong(0))) // bounded by the coarse k
      if (checkNewIds && codesExist && buckets.nonEmpty) {
        val hit = lay.visible(spark.read.parquet(s"$path/codes"), dels,
            idCol, g)
          .filter(col("bucket").isin(buckets.toIndexedSeq: _*))
          .join(out.get.select(col(idCol)).distinct(), Seq(idCol),
            "left_semi")
        require(fresh.fold(hit)(f => hit.join(f, Seq(idCol), "left_anti"))
            .head(1).isEmpty,
          s"$verb: fresh batch contains ids LIVE in the index — merge " +
            "takes the delta split's NEW side; changed vectors need " +
            "updateIvfPqIndex (or delete first), not a double add")
      }
      if (freshCnt > 0L || buckets.nonEmpty) {
        if (freshCnt > 0L)
          lay.appendTombstones(verb, dels, fresh.get, freshCnt, g)
        val addGen = if (freshCnt > 0L) g + 1L else g
        if (buckets.nonEmpty)
          out.get.withColumn("gen", lit(addGen))
            .write.partitionBy("bucket").mode("append")
            .parquet(s"$path/codes")
        val (next, merged) =
          if (buckets.nonEmpty) (addGen + 1L, addGen) else (g + 1L, lastMerge)
        lay.commit(spark, verb, g)(lit(next).as("next_gen"),
          lit(merged).as("last_merge_gen"))
      }
    })
  }

  /** Fold a FRESH vector batch into a stored [[ensureIvfPqIndex]]-shape
    * layout at cost ∝ |fresh| — the FAISS add() contract, [[ivfPqEpoch]]'s
    * add leg alone: the codebook and centroid artifacts stay FROZEN
    * (re-training per ingest batch would shift every stored code's
    * meaning), fresh vectors are encoded against them in one map-only
    * pass ([[Similarity.ivfPqEncode]]) and APPENDED as new files in
    * their bucket directories. Merged ≡ from-scratch-with-the-same-
    * frozen-artifacts is q174's oracle. With `checkNewIds` (the default)
    * a fresh id already LIVE fails loudly (a semi-join over the fresh
    * buckets' directories; Delta-routed ingest passes false). Fresh rows
    * are stamped `gen = next_gen`. `passthrough` must
    * match the columns the layout was built with. An empty codes leg
    * (the streaming bootstrap) skips the guard; an empty batch is a
    * no-op. */
  def mergeIvfPqIndex(spark: SparkSession, path: String, fresh: DataFrame,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      m: Int = 4, subDim: Int = 16, probeDims: Int = 4,
                      passthrough: Seq[String] = Nil,
                      checkNewIds: Boolean = true): Unit =
    ivfPqEpoch(spark, path, "mergeIvfPqIndex", idCol, None,
      Some(Similarity.ivfPqEncode(fresh, idCol, vecCol, _: DataFrame, m, subDim,
        probeDims, passthrough)), checkNewIds)

  /** q174's artifact: train the codebook and fix the centroid table on
    * the vec_id%3≠2 slice ONLY (the FAISS train-on-a-sample contract),
    * build that slice's codes with a padded codebook, and fold the %3=2
    * slice in as a fresh-batch [[mergeIvfPqIndex]]. A probe must equal
    * one of a from-scratch build that uses the SAME frozen artifacts. */
  def ensureIvfPqIndexMerged(spark: SparkSession, dir: String,
                             name: String = "embeddings", coarseK: Int = 8,
                             m: Int = 4, subDim: Int = 16,
                             probeDims: Int = 4): String =
    fixture("ivfpq-merged", name, dir, coarseK, m, subDim, probeDims) { p =>
      val vecs = graft.Tables.load(spark, dir, name)
      val sliceA = vecs.filter(col("vec_id") % 3 =!= 2)
      buildIvf(spark, p, sliceA, lowIdCoarse(sliceA, coarseK), m, subDim,
        probeDims, padded = true)
      mergeIvfPqIndex(spark, p, vecs.filter(col("vec_id") % 3 === 2),
        m = m, subDim = subDim, probeDims = probeDims)
    }

  /** FAISS `remove_ids` for the stored IVF×PQ layout, at cost ∝ |ids|:
    * [[ivfPqEpoch]]'s delete leg alone — (id, del_gen = next_gen)
    * tombstones; probes read codes through [[liveCodes]].
    * Row-idempotent: candidate ids already behind a COMMITTED FULLY
    * KILLING tombstone are skipped — an uncommitted one must not dedup
    * the retry that will commit it. [[MaxTombstoneRows]] bounds the
    * accumulated table. */
  def deleteFromIvfPqIndex(spark: SparkSession, path: String,
                           ids: DataFrame,
                           idCol: String = "vec_id"): Unit =
    ivfPqEpoch(spark, path, "deleteFromIvfPqIndex", idCol,
      Some(ids.select(col(idCol))), None)

  /** Probe-side codes view of a stored IVF×PQ layout: the codes table
    * through [[GenLayout.visible]] — uncommitted rows and tombstones
    * filtered, tombstoned rows dropped by a gen-aware broadcast
    * anti-join. The probed-bucket partition filter applied downstream
    * (ivfPqSearchStored) pushes through the anti-join's left side, so
    * directory pruning survives deletion (PlanLint pins q178).
    *
    * `asOfGen = Some(G)` is the SNAPSHOT read (the reproducible-
    * training-data ask): the layout reads as exactly its state when the
    * committed counter was G, so a probe AS OF the generation a verb
    * started from is bit-for-bit the pre-verb probe (q185's oracle). G
    * above the committed counter clamps to it. HISTORY HORIZON:
    * compaction and vacuum truncate history to the fold point — the
    * table-format VACUUM-vs-time-travel trade. */
  def liveCodes(spark: SparkSession, path: String,
                idCol: String = "vec_id",
                asOfGen: Option[Long] = None): DataFrame = {
    val lay = ivfLayout(path)
    lay.visible(spark.read.parquet(s"$path/codes"), lay.deletes(spark), idCol,
      lay.asOf(spark, asOfGen))
  }

  /** [[vacuumBm25Index]] for the IVF×PQ layout. */
  def vacuumIvfPqIndex(spark: SparkSession, path: String): Long =
    ivfLayout(path).vacuum(spark)

  /** Fold IVF×PQ tombstones into the physical codes layout (one file
    * per bucket directory) and drop the tombstone table. The gen
    * sidecar is KEPT — generations stay monotone across compactions, so
    * replayed CDC epochs never collide. */
  def compactIvfPqIndex(spark: SparkSession, path: String,
                        idCol: String = "vec_id"): Unit =
    ivfLayout(path).compact(spark, idCol)

  /** UPDATE on the stored IVF×PQ layout — the reference's `ON CONFLICT
    * DO UPDATE` (src/storage.py:41-53) on the vector leg, as ONE
    * [[ivfPqEpoch]]: tombstone the changed ids, re-encode the changed
    * vectors against the FROZEN codebook/centroids and append them
    * stamped past the tombstones, one commit for both — the
    * tombstoned-only state is never exposed. ∝ the changed batch
    * (q184's oracle). The codebook must cover
    * the codes the changed vectors realize ([[padIvfPqCodebook]] at
    * build time guarantees that). */
  def updateIvfPqIndex(spark: SparkSession, path: String, changed: DataFrame,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       m: Int = 4, subDim: Int = 16, probeDims: Int = 4,
                       passthrough: Seq[String] = Nil): Unit =
    ivfPqEpoch(spark, path, "updateIvfPqIndex", idCol,
      Some(changed.select(col(idCol))),
      Some(Similarity.ivfPqEncode(changed, idCol, vecCol, _: DataFrame, m, subDim,
        probeDims, passthrough)))

  /** REINDEX — trained-artifact refresh with atomic cutover (VERDICT
    * r18 #4): merge/update encode against FROZEN artifacts, so a
    * drifting corpus slowly degrades routing and ADC fidelity; reindex
    * re-trains the PQ codebook over `corpus` (the CURRENT live vector
    * set, caller-authoritative), re-derives the codes against the
    * caller's re-trained `coarse` centroid table, and cuts the layout
    * over as ONE ROOT swap: the complete replacement root (codes +
    * padded codebook + centroids + gen sidecar) is staged, then renamed
    * in — old codes against a new codebook would be garbage, so the
    * swap cannot be per-leg. Generations stay MONOTONE across the
    * cutover (rows stamped at the old counter, the sidecar one past
    * it); the tombstone table does not carry over. Cost ∝ the corpus —
    * run it when an eval (q183's) prices the recall the frozen
    * artifacts lost. */
  def reindexIvfPqIndex(spark: SparkSession, path: String,
                        corpus: DataFrame, coarse: DataFrame,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        cidCol: String = "cid", cvecCol: String = "cvec",
                        m: Int = 4, subDim: Int = 16, probeDims: Int = 4,
                        passthrough: Seq[String] = Nil): Unit = {
    val lay = ivfLayout(path)
    lay.write(spark, "reindexIvfPqIndex") {
      val g = lay.horizon(spark)
      val cents = coarse.select(col(cidCol).as("cid"),
        col(cvecCol).as("cvec"))
      val (codes, book) = Similarity.ivfPqIndexTables(
        corpus, idCol, vecCol, cents, "cid", "cvec",
        m, subDim, probeDims, passthrough)
      // the old root (with its lock, tombstones and superseded
      // artifacts) rides out whole
      swapInStaged(path) { staged =>
        codes.withColumn("gen", lit(g))
          .write.partitionBy("bucket").mode("overwrite")
          .parquet(s"$staged/codes")
        padIvfPqCodebook(spark, book, m, subDim, probeDims)
          .write.mode("overwrite").parquet(s"$staged/codebook")
        cents.write.mode("overwrite").parquet(s"$staged/centroids")
        lay.commit(spark, "reindexIvfPqIndex", g, s"$staged/gen")(
          lit(g + 1L).as("next_gen"), lit(g).as("last_merge_gen"))
      }
    }
  }

  /** The DRIFT → REINDEX lifecycle as one artifact — q188's: the full
    * layout over the ORIGINAL corpus, DRIFTED by
    * [[updateIvfPqIndex]] (the %5=4 vectors reversed, encoded against
    * the stale frozen artifacts), then [[reindexIvfPqIndex]] over the
    * UPDATED corpus with RE-DERIVED artifacts (the low-id centroid rule
    * re-read from the updated vectors). A probe must equal a
    * from-scratch trained build over the updated corpus. */
  def ensureIvfPqIndexReindexed(spark: SparkSession, dir: String,
                                name: String = "embeddings",
                                coarseK: Int = 8, m: Int = 4,
                                subDim: Int = 16,
                                probeDims: Int = 4): String =
    fixture("ivfpq-reindexed", name, dir, coarseK, m, subDim, probeDims) { p =>
      val vecs = graft.Tables.load(spark, dir, name)
      buildIvf(spark, p, vecs, lowIdCoarse(vecs, coarseK), m, subDim,
        probeDims, padded = true)
      updateIvfPqIndex(spark, p, reversedFifth(vecs),
        m = m, subDim = subDim, probeDims = probeDims)
      val updated = vecs.filter(col("vec_id") % 5 =!= 4)
        .select(col("vec_id"), col("embedding"))
        .unionByName(reversedFifth(vecs))
      reindexIvfPqIndex(spark, p, updated, lowIdCoarse(updated, coarseK),
        m = m, subDim = subDim, probeDims = probeDims)
    }

  /** q178's artifact, the FAISS remove_ids lifecycle:
    * [[ensureIvfPqIndex]]'s build followed by one tombstone batch
    * (vec_id%5=2). The codebook and centroids stay FROZEN as built over
    * the full corpus (vec_id 2 stays a centroid though its vector is no
    * longer searchable); the oracle drops deleted ids from the FINAL
    * ranking only. */
  def ensureIvfPqIndexDeleted(spark: SparkSession, dir: String,
                              name: String = "embeddings", coarseK: Int = 8,
                              m: Int = 4, subDim: Int = 16,
                              probeDims: Int = 4): String =
    fixture("ivfpq-deleted", name, dir, coarseK, m, subDim, probeDims) { p =>
      val vecs = graft.Tables.load(spark, dir, name)
      buildIvf(spark, p, vecs, lowIdCoarse(vecs, coarseK), m, subDim,
        probeDims, padded = false, passthrough = Seq("label"))
      deleteFromIvfPqIndex(spark, p,
        vecs.filter(col("vec_id") % 5 === 2).select(col("vec_id")))
    }

  /** q184's artifact, UPDATE = delete + re-merge on the vector layout:
    * the full layout with a PADDED codebook, then the
    * vec_id%5=4 vectors replaced by their reversed versions through
    * [[updateIvfPqIndex]] (the vector analog of q180's
    * `text + " fresh join"`). The artifacts stay FROZEN as built over
    * the ORIGINAL corpus; a probe must equal a from-scratch encode of
    * the UPDATED corpus against them. */
  def ensureIvfPqIndexUpdated(spark: SparkSession, dir: String,
                              name: String = "embeddings", coarseK: Int = 8,
                              m: Int = 4, subDim: Int = 16,
                              probeDims: Int = 4): String =
    fixture("ivfpq-updated", name, dir, coarseK, m, subDim, probeDims) { p =>
      val vecs = graft.Tables.load(spark, dir, name)
      buildIvf(spark, p, vecs, lowIdCoarse(vecs, coarseK), m, subDim,
        probeDims, padded = true)
      updateIvfPqIndex(spark, p, reversedFifth(vecs),
        m = m, subDim = subDim, probeDims = probeDims)
    }

  /** Health snapshot of a stored IVF×PQ layout — [[describeBm25Index]]
    * for the vector leg: stored code-row versions (parquet footer
    * counts), tombstone rows, the generation counters, and the worst
    * per-bucket segment-file count. `tombstoneFraction` approximates
    * the dead-row fraction and prices what every probe pays: the
    * broadcast anti-join's build side. Metadata-priced. */
  final case class IvfPqIndexInfo(codesRows: Long, tombstoneRows: Long,
                                  nextGen: Long, lastMergeGen: Long,
                                  bucketDirs: Int, maxFilesPerDir: Int,
                                  staleWriter: Boolean = false) {
    def tombstoneFraction: Double =
      if (codesRows == 0L) 0.0 else tombstoneRows.toDouble / codesRows
  }

  /** Compute [[IvfPqIndexInfo]] for the layout at `path`. */
  def describeIvfPqIndex(spark: SparkSession,
                         path: String): IvfPqIndexInfo = {
    val lay = ivfLayout(path)
    val rows =
      if (hasParquetFiles(s"$path/codes"))
        spark.read.parquet(s"$path/codes").count() // footer metadata
      else 0L
    val (dirs, maxFiles) = lay.segments
    IvfPqIndexInfo(rows, lay.tombstones(spark), lay.horizon(spark),
      lastMergeGen(spark, lay), dirs, maxFiles,
      staleWriter = writerLockHeld(path))
  }

  /** Policy-driven maintenance of an IVF×PQ layout:
    * [[compactIvfPqIndex]] fires iff the tombstone fraction exceeds
    * `maxTombstoneFraction`, any bucket directory holds more than
    * `maxFilesPerDir` append segments, OR the ABSOLUTE tombstone count
    * exceeds `maxTombstones` (the [[maintainBm25Index]] rationale); a
    * stale writer lock fires [[vacuumIvfPqIndex]]. Returns true iff
    * maintenance ran; the decision reads only metadata. */
  def maintainIvfPqIndex(spark: SparkSession, path: String,
                         idCol: String = "vec_id",
                         maxTombstoneFraction: Double = 0.2,
                         maxFilesPerDir: Int = 8,
                         maxTombstones: Long = MaxTombstoneRows / 2): Boolean = {
    val info = describeIvfPqIndex(spark, path)
    val due = info.tombstoneFraction > maxTombstoneFraction ||
      info.maxFilesPerDir > maxFilesPerDir ||
      info.tombstoneRows > maxTombstones
    if (info.staleWriter) vacuumIvfPqIndex(spark, path)
    if (due) compactIvfPqIndex(spark, path, idCol)
    due || info.staleWriter
  }

  /** [[ensureIvfPqIndex]] with a KMEANS-TRAINED coarse level (VERDICT
    * r15 #3 — the FAISS lifecycle train → build → probe as ONE stored
    * layout): `Similarity.kmeans` at `coarseK`/`kmIters` under the
    * exact-seeding regime (seedLevels = Seq(1) — the q164
    * oracle-replayable form), the final assignment re-meaned through
    * `centroids`/`centroidMeans` into the (cid, cvec) centroid
    * contract, then the identical codes/codebook build. Clusters that
    * end empty simply don't appear in the centroid table. */
  def ensureIvfPqIndexTrained(spark: SparkSession, dir: String,
                              name: String = "embeddings", coarseK: Int = 4,
                              kmIters: Int = 2, m: Int = 4, subDim: Int = 16,
                              probeDims: Int = 4): String =
    fixture("ivfpq-trained", name, dir, coarseK, kmIters, m, subDim,
        probeDims) { p =>
      val vecs = graft.Tables.load(spark, dir, name)
      val assigned = Similarity.kmeans(vecs, "vec_id", "embedding",
        coarseK, kmIters, seedLevels = Seq(1L))
      val coarse = Similarity.centroidMeans(Similarity.centroids(
          vecs.join(assigned, Seq("vec_id")),
          col("cluster"), col("embedding")))
        .select(col("bucket").cast("long").as("cid"),
          col("centroid").as("cvec"))
      buildIvf(spark, p, vecs, coarse, m, subDim, probeDims, padded = false)
    }

  // ---- versioned state ----------------------------------------------------

  private def versionOf(p: java.nio.file.Path): Option[Long] = {
    val n = p.getFileName.toString
    if (n.startsWith("v")) n.drop(1).toLongOption else None
  }

  /** Latest COMMITTED state version under `stateDir`, if any. Spark's
    * committer creates `v<N>` at job setup and writes `_SUCCESS` last,
    * so a version without `_SUCCESS` is a crashed write: it is skipped,
    * and the next [[mergeState]] overwrites it. */
  def latestVersion(stateDir: String): Option[Long] = {
    val dir = Paths.get(stateDir)
    if (!Files.isDirectory(dir)) None
    else {
      val ls = Files.list(dir)
      try ls.iterator().asScala
        .filter(v => Files.exists(v.resolve("_SUCCESS")))
        .flatMap(versionOf).maxOption
      finally ls.close()
    }
  }

  /** Read the latest state version (None when uninitialized). */
  def readState(spark: SparkSession, stateDir: String): Option[DataFrame] =
    latestVersion(stateDir).map(v => spark.read.parquet(s"$stateDir/v$v"))

  /** W2/W3: upsert `incoming` into the stored state — union + PK
    * keep-winner (highest version value, incoming beats existing on ties)
    * — and commit as the next version directory. Returns the new state.
    * Writing a NEW directory (never in-place) keeps readers of the old
    * version consistent — the parquet analog of the reference's
    * transactional ON CONFLICT statement.
    *
    * `evict` is the compaction hook: merged rows matching the predicate
    * are dropped before the write, so a caller with a retention rule
    * (epoch age, event-time TTL) keeps the state table bounded instead
    * of growing per merge forever. Eviction runs AFTER the keep-winner
    * merge, so a row that was just refreshed by `incoming` survives under
    * its new version value. The predicate must be a deterministic
    * function of the row and the caller's version watermark — then a
    * replayed merge evicts identically and stays content-idempotent. */
  def mergeState(spark: SparkSession, stateDir: String, incoming: DataFrame,
                 pk: Seq[String], version: Column,
                 evict: Option[Column] = None): DataFrame = {
    val next = latestVersion(stateDir).getOrElse(-1L) + 1
    val merged = readState(spark, stateDir) match {
      case Some(existing) => Upsert.merge(existing, incoming, pk, version)
      case None => Upsert.keepFirst(incoming, pk, Seq(version.desc))
    }
    val retained = evict.fold(merged)(p => merged.filter(!p))
    retained.write.mode("overwrite").parquet(s"$stateDir/v$next")
    spark.read.parquet(s"$stateDir/v$next")
  }
}
