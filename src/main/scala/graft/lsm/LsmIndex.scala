package graft.lsm

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The LSM segment protocol behind the streaming index family (q110d/
  * q110f minhash dedup, q117d/q117e gram novelty, the q122 capstone).
  * An index relation is an immutable base, write-once `batch=<id>`
  * delta segments under its delta dir, and — for a stream that folds —
  * immutable `fold=<id>` segments under its fold dir, each staged as
  * `.fold=<id>.staging` and renamed into place. A segment is COMMITTED
  * when its `_SUCCESS` marker exists (the Tables.scala idempotence
  * contract). This object is the only code that lists, names or
  * `batch`-filters these segments; the queries see relations in and
  * segment paths out.
  *
  * Every read is a pure function of (batch id, disk state at batch
  * start), which at-least-once redelivery preserves: a batch reads the
  * latest committed fold strictly below it plus the delta tail strictly
  * between that fold and itself, so it never sees its own (possibly
  * torn) first-delivery segments. */
object LsmIndex {

  /** One relation of an LSM index: the immutable base, the write-once
    * `batch=<id>` delta segments under deltaDir, and the immutable
    * `fold=<id>` segments under foldDir. A stream that never folds has
    * no fold dir: it reads base ∪ every earlier delta, and no fold dir
    * is listed or written. All relations of one index fold together or
    * not at all. */
  final case class Relation(base: DataFrame, deltaDir: String,
      cols: Seq[String], foldDir: Option[String])

  object Relation {
    def apply(base: DataFrame, deltaDir: String, cols: Seq[String],
        foldDir: String): Relation =
      Relation(base, deltaDir, cols, Some(foldDir))
  }

  /** Location of batch `id`'s delta segment under `deltaDir`. */
  def deltaSegment(deltaDir: String, id: Long): String =
    s"$deltaDir/batch=$id"

  /** FileSystem + Path for an LSM dir, resolved through the active
    * session's Hadoop conf: on a cluster these dirs live on HDFS/S3A
    * and the directory protocol must run through the same `FileSystem`
    * API the parquet writes use. */
  private def fsOf(dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    // getActiveSession is thread-local — a maintenance thread calling
    // gc/foldPoint would miss the session's fs.* credentials/
    // defaultFS through it, so fall back to the process-wide default
    // session before a bare Configuration
    val conf = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    (p.getFileSystem(conf), p)
  }

  /** The `_SUCCESS`-committed segment ids under `dir` whose dirname
    * starts with `prefix` ("fold=" / "batch=") — ONE definition of the
    * committed predicate for the fold point, the fold-write skip and
    * the GC, so the three can never disagree on what "committed"
    * means. */
  private def committedIds(dir: String, prefix: String): Set[Long] = {
    val (fs, p) = fsOf(dir)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).iterator
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(prefix) &&
        fs.exists(new Path(st.getPath, "_SUCCESS")))
      .flatMap(st =>
        scala.util.Try(st.getPath.getName.drop(prefix.length).toLong)
          .toOption)
      .toSet
  }

  /** The fold a batch reads: the LATEST COMMITTED `fold=<n>` segment
    * on disk with n STRICTLY BELOW the batch id (-1 = none: read the
    * base; always -1 for an index without fold dirs). Committed means
    * the writer's `_SUCCESS` marker exists in EVERY relation's fold
    * dir — mere directory existence is not enough, because a crash
    * between a fold's per-relation writes (or mid-write) leaves a torn
    * fold that the crashed batch is NOT guaranteed to rewrite: if k
    * was retuned across the restart, the re-run may not fire a fold at
    * all, and the torn dir would otherwise wedge or silently truncate
    * every later read. Derived from the listing, not from (id, k)
    * arithmetic: under a fixed cadence the two agree — folds fire
    * after batches k-1, 2k-1, …, so the latest committed fold below id
    * is k·⌊id/k⌋-1 — but the listing also survives RETUNING k across a
    * checkpoint resume (arithmetic would derive a fold that never
    * fired and crash the read). The n < id bound is the `batch < id`
    * self-exclusion contract at fold granularity: a redelivered batch
    * never sees its own (possibly torn) fold, and folds of LATER
    * batches cannot exist when a batch first runs, so every re-run
    * reads exactly what the first delivery read. A deployment's GC
    * must use the same committed predicate AND retain a fold's inputs
    * until its writer batch checkpoints (a re-run fold overwrite
    * passes through an uncommitted window) — `gc` does both. */
  def foldPoint(rels: Seq[Relation], id: Long): Long = {
    val dirs = rels.flatMap(_.foldDir)
    if (dirs.isEmpty) -1L
    else dirs.map(committedIds(_, "fold=")).reduce(_ intersect _)
      .filter(_ < id).foldLeft(-1L)(math.max)
  }

  /** True iff `dir` holds any `batch=<n>` partition dir with
    * lo < n < hi — the LISTING form of the delta-tail-emptiness
    * question every per-batch read asks. DIRECTORY existence — not the
    * `_SUCCESS` commit marker — is deliberately the predicate: it is
    * exactly the set a parquet partition-discovery read of the root
    * would enumerate, so skipping the scan+union when this is false
    * cannot change what any read returns. It is also why no stream
    * writes an empty `batch=-1` schema seed: the batch-0 empty-tail
    * read is elided instead of needing a schema to infer. A
    * spec-seeded `batch=-1` stays harmless: stateAsOf's lo = f ≥ -1
    * excludes it exactly like its `batch > f` filter. */
  private def hasBatchIn(dir: String, lo: Long, hi: Long): Boolean = {
    val (fs, p) = fsOf(dir)
    fs.exists(p) && fs.listStatus(p).iterator.exists { st =>
      st.isDirectory && st.getPath.getName.startsWith("batch=") &&
        scala.util.Try(st.getPath.getName.drop("batch=".length).toLong)
          .toOption.exists(n => n > lo && n < hi)
    }
  }

  /** Highest micro-batch id the stream's CHECKPOINT has committed —
    * gc's `checkpointedId` input, read from the checkpoint's commit log
    * (`<ckpt>/commits/<batchId>`, one file per committed batch;
    * long-lived streams also hold `<n>.compact` rollups whose id is the
    * suffix-stripped name). −1 = nothing committed yet, so a GC driven
    * by it is a no-op. Goes through the same FileSystem resolution as
    * every other LSM directory read. */
  def checkpointedBatchId(ckpt: String): Long = {
    val (fs, p) = fsOf(s"$ckpt/commits")
    if (!fs.exists(p)) -1L
    else fs.listStatus(p).iterator
      .flatMap(st => scala.util.Try(
        st.getPath.getName.stripSuffix(".compact").toLong).toOption)
      .foldLeft(-1L)(math.max)
  }

  /** Index state as of just before `hi`, per relation: fold=f ∪ the
    * delta tail in (f, hi) — f = -1 means the base relation. ONE
    * definition for the batch read (hi = id) and the fold input
    * (hi = id + 1), so the two views of "the index so far" cannot
    * drift. At a fresh post-fold batch (hi = f + 1) the tail is empty
    * and the state is the fold scan ALONE — the read-side signature
    * the plan pins read. */
  def stateAsOf(s: SparkSession, rels: Seq[Relation], f: Long,
      hi: Long): Seq[DataFrame] = rels.map { r =>
    def tail: DataFrame = s.read.parquet(r.deltaDir)
      .filter(col("batch") > f && col("batch") < hi)
      .select(r.cols.map(col): _*)
    def fold: DataFrame = s.read.parquet(s"${r.foldDir.get}/fold=$f")
    // EMPTY-TAIL ELISION: when the listing proves no delta segment
    // falls in (f, hi) — batch 0, or any fresh post-fold batch — skip
    // the tail scan AND the union outright instead of scanning an
    // empty relation.
    val hasTail = hasBatchIn(r.deltaDir, f, hi)
    if (f < 0L) {
      val base = r.base.select(r.cols.map(col): _*)
      if (hasTail) base.union(tail) else base
    }
    else if (!hasTail) fold
    else fold.union(tail)
  }

  /** Run independent Spark write thunks CONCURRENTLY, one thread per
    * thunk, propagating the first failure. Spark's scheduler is built
    * for multi-threaded job submission; the LSM family's per-batch cost
    * at bench scale is FIXED per-job overhead, not data, so running the
    * independent writes of one batch as one wave instead of a sequence
    * is pure wall-clock back, without changing any on-disk layout or
    * commit point. Single-thunk calls stay inline (no thread). */
  private[graft] def parWrite(thunks: Seq[() => Unit]): Unit =
    if (thunks.sizeIs <= 1) thunks.foreach(_())
    else {
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val ts = thunks.map(t => new Thread(() =>
        try t() catch { case e: Throwable => errs.add(e) }))
      ts.foreach(_.start()); ts.foreach(_.join())
      if (!errs.isEmpty) {
        // surface ONE failure, but keep every other thread's as
        // suppressed — a wave where both families fail must not lose
        // the more informative diagnostic
        val first = errs.poll()
        var e = errs.poll()
        while (e != null) { first.addSuppressed(e); e = errs.poll() }
        throw first
      }
    }

  /** The compact-every-k cadence: fold at batch `id` iff the index has
    * fold dirs and (id + 1) % k == 0, so folds fire after batches k-1,
    * 2k-1, …. `f` is the fold point the batch read at. */
  def foldIfDue(s: SparkSession, rels: Seq[Relation], f: Long, id: Long,
      k: Int, midFold: () => Unit = () => ()): Unit =
    if (rels.forall(_.foldDir.isDefined) && (id + 1) % k == 0)
      foldAt(s, rels, f, id, midFold)

  /** Write the fold at batch `id`: prior fold ∪ the delta tail
    * THROUGH this batch (byte-equivalent to base ∪ all deltas so far,
    * bounded at O(fold + k) inputs) to the immutable per-fold
    * location `fold=<id>` of every relation. `midFold` fires between
    * per-relation commits — the torn-fold crash-injection point.
    *
    * A relation whose fold=<id> is already COMMITTED is skipped: a
    * redelivered fold's content is byte-identical by construction — its
    * inputs are the immutable prior fold + write-once deltas and
    * foldPoint resolves the same f on redelivery (`n < id` excludes the
    * batch's own fold; later folds cannot exist for an uncheckpointed
    * batch) — so rewriting it through mode("overwrite") would only pass
    * a committed fold through a transient uncommitted window (the
    * _SUCCESS delete) for nothing. A TORN fold (no _SUCCESS) still
    * takes the write path and completes. */
  private def foldAt(s: SparkSession, rels: Seq[Relation],
      f: Long, id: Long, midFold: () => Unit): Unit = {
    // decide the skip set FIRST: building stateAsOf eagerly lists +
    // schema-infers every relation's fold/delta locations, which is
    // pure waste for relations about to be skipped (several LIST/HEAD
    // round-trips per redelivered fold on S3/HDFS).
    val pending = rels.filterNot(r =>
      committedIds(r.foldDir.get, "fold=").contains(id))
    // STAGE + RENAME: a direct mode("overwrite") of a genuinely TORN
    // fold deleted the remains and then spent the whole parquet job
    // inside a half-written final location — a second crash left a
    // differently-torn dir. Staging to a dot-prefixed sibling (hidden
    // from parquet listings, committedIds and GC's fold= prefix
    // match) and renaming into place shrinks the commit to one
    // directory rename: the final location is only ever absent, the
    // old torn remains, or complete-with-_SUCCESS — never mid-write.
    // Committed folds are skipped above, so no _SUCCESS-bearing
    // segment is ever deleted (law-pinned). Staging also splits the
    // fold into an expensive parallel phase and a cheap commit phase:
    // the parquet jobs run as ONE concurrent wave (they are
    // independent — immutable prior fold + write-once deltas in, a
    // private staging dir out), then the renames COMMIT sequentially
    // with midFold between them, so the observable crash states are
    // exactly the sequential ones (relations 0..i-1 committed, the
    // rest absent-from-final).
    val staged = pending.zip(stateAsOf(s, pending, f, id + 1))
      .map { case (r, st) =>
        val dir = r.foldDir.get
        val (fs, _) = fsOf(dir)
        val finalP = new Path(s"$dir/fold=$id")
        val stageP = new Path(s"$dir/.fold=$id.staging")
        (fs, finalP, stageP,
          () => st.write.mode("overwrite").parquet(stageP.toString))
      }
    parWrite(staged.map(_._4))
    staged.zipWithIndex.foreach { case ((fs, finalP, stageP, _), i) =>
      if (i > 0) midFold()
      if (fs.exists(finalP)) fs.delete(finalP, true) // torn remains
      if (!fs.rename(stageP, finalP))
        throw new java.io.IOException(
          s"fold commit rename failed: $stageP -> $finalP")
    }
  }

  /** LSM GC: delete the fold/delta segments that can never be read
    * again, and ONLY those. The live fold point is the latest fold that
    * is both COMMITTED (the same `_SUCCESS`-in-every-relation predicate
    * foldPoint reads) and CHECKPOINTED (writer batch ≤
    * `checkpointedId`, the highest batch the stream's checkpoint has
    * committed — the caller reads it with checkpointedBatchId). Below
    * that point everything is dead: earlier folds are superseded, and
    * deltas at or below it are folded in. AT or ABOVE it everything
    * must survive — a committed-but-uncheckpointed fold sits inside
    * the redelivery window (its writer batch may re-run and must
    * re-read the live fold + the tail past it), so GC never touches it
    * or its delta inputs. A `batch=-1` schema seed (legal on disk, e.g.
    * spec-seeded) also stays: deadSegs bounds at n >= 0. Returns the
    * live fold point (-1 = nothing GC-able yet, always for an index
    * without fold dirs). Idempotent and crash-safe: every delete
    * targets a segment no current or future read can reference, so a
    * GC torn mid-way just leaves some dead segments for the next GC. */
  def gc(rels: Seq[Relation], checkpointedId: Long): Long = {
    val f = foldPoint(rels, checkpointedId + 1)
    // delete by RAW listing, not the committed set: a TORN fold below
    // the live point is dead garbage too (its writer batch
    // checkpointed, so nothing will ever complete it, and the commit
    // predicate already hides it from every read) — leaving it would
    // accumulate junk dirs forever. Above the live point commit state
    // doesn't matter either: everything survives.
    def deadSegs(dir: String, prefix: String, upTo: Long,
        suffix: String = ""): Seq[Path] = {
      val (fs, p) = fsOf(dir)
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).iterator
        .filter { st =>
          val n = st.getPath.getName
          n.startsWith(prefix) && n.endsWith(suffix) &&
            scala.util.Try(n.drop(prefix.length)
              .dropRight(suffix.length).toLong).toOption
              .exists(v => v >= 0 && v <= upTo)
        }
        .map(st => st.getPath).toSeq
    }
    if (f >= 0) rels.foreach { r =>
      val foldDir = r.foldDir.get
      val (foldFs, _) = fsOf(foldDir)
      deadSegs(foldDir, "fold=", f - 1).foreach(foldFs.delete(_, true))
      // dead fold STAGING leftovers (a crash between foldAt's stage
      // write and its rename): at id < f the fold is superseded; at
      // id = f the live fold committed, so the staged copy will never
      // be renamed. Above f the owning batch may still redeliver —
      // its rewrite owns (and overwrites) that staging dir, not GC.
      deadSegs(foldDir, ".fold=", f, ".staging")
        .foreach(foldFs.delete(_, true))
      val (dFs, _) = fsOf(r.deltaDir)
      deadSegs(r.deltaDir, "batch=", f).foreach(dFs.delete(_, true))
    }
    f
  }
}
