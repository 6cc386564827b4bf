package graft.operators

import graft.engine.SparkGraftEngine
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Multi-dimensional data layout: Z-order (Morton-curve) clustering, the
 * `OPTIMIZE ZORDER` pattern for making parquet row-group min/max skipping
 * effective on SEVERAL filter columns at once. A single-column sort gives
 * perfect pruning on one dimension and none on the others; interleaving
 * the rank bits of each dimension gives every dimension locality
 * proportional to 2^(-bits/dims) per output partition, so selective
 * predicates on ANY clustered column skip most of a 100 TB table's files.
 *
 * Scale shape: per-column quantile boundaries are the ONLY driver state
 * (2^bits doubles per column, from `approxQuantile`); ranking and bit
 * interleave are literal-array expressions inside whole-stage codegen (no
 * UDFs), and the placement is one `repartitionByRange` + local sort on
 * the z-value — exactly the cost of a global sort by one column.
 */
object Layout {

  /** Rank of `v` among sorted `bounds` (= #bounds ≤ v) as a BINARY-SEARCH
   * `when` tree: evaluation touches log2(n) comparisons per row, not n —
   * the difference between a layout pass that keeps up with the write and
   * one that dominates it. Nulls take every `otherwise` branch → rank 0. */
  private def searchRank(v: Column, bounds: Array[Double],
      lo: Int, hi: Int): Column =
    if (lo >= hi) lit(lo)
    else {
      val mid = (lo + hi) / 2
      when(v >= lit(bounds(mid)), searchRank(v, bounds, mid + 1, hi))
        .otherwise(searchRank(v, bounds, lo, mid))
    }

  /**
   * Cluster `df` on the Morton curve over `cols` (1–3 numeric columns,
   * `bits` rank bits each): range-partition + locally sort by the
   * interleaved z-value. Content-preserving — same rows, new placement.
   * Write the result with `save`/`write.parquet` to get multi-column
   * data skipping from ordinary parquet statistics.
   */
  def zorderBy(df: DataFrame, cols: Seq[String], bits: Int = 8,
      numPartitions: Option[Int] = None): DataFrame = {
    require(cols.nonEmpty && cols.size <= 3,
      s"zorderBy clusters 1-3 columns, got ${cols.size}")
    // 12 caps the quantile request (2^12-1 probabilities) and the rank
    // tree size; it also keeps bits*dims <= 36 inside a long
    require(bits >= 1 && bits <= 12, s"bits must be in 1..12, got $bits")
    require(!df.columns.contains("__zorder"),
      "df already has a __zorder column — rename it before clustering")
    val dims = cols.size
    // ONE stats pass for every clustered column (multi-column
    // approxQuantile); boundaries are the only driver state
    val n = 1 << bits
    val probs = (1 until n).map(_.toDouble / n).toArray
    val allBounds = df.stat.approxQuantile(cols.toArray, probs, 0.001)
    // rank bit i of dimension d lands at z bit i*dims + d; the spread is
    // precomputed per dimension and looked up from ONE literal array, so
    // each rank tree appears exactly once in the plan (not once per bit)
    def spread(d: Int): Array[Long] = Array.tabulate(n) { r =>
      var v = 0L
      var i = 0
      while (i < bits) { v |= ((r.toLong >> i) & 1L) << (i * dims + d); i += 1 }
      v
    }
    val z = cols.zip(allBounds).zipWithIndex.map { case ((c, bounds), d) =>
      val rank =
        if (bounds.isEmpty) lit(0)
        else searchRank(col(c).cast("double"), bounds, 0, bounds.length)
      element_at(lit(spread(d)), rank + lit(1))
    }.reduce(_ bitwiseOR _)
    val parts = numPartitions.getOrElse(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
    df.withColumn("__zorder", z)
      .repartitionByRange(parts, col("__zorder"))
      .sortWithinPartitions("__zorder")
      .drop("__zorder")
  }

  /**
   * Size-targeted compaction — the OPTIMIZE half of small-file
   * maintenance. Output partition count = ceil(estimated bytes /
   * `targetBytes`), clamped to [1, current partitions]: a fragmented
   * table (thousands of streaming-ingest or over-parallel files) coalesces
   * toward `targetBytes` outputs, while an already-compact table is left
   * alone rather than exploded. The size estimate is Catalyst's plan
   * statistic (parquet footer totals for file scans — no data pass);
   * `keyCols` optionally co-locates rows (hash repartition on the keys)
   * so compaction doubles as clustering for later joins.
   *
   * Content-preserving: same rows, new file placement. A shrink with no
   * keys uses `coalesce` — narrow, NO shuffle: each output just reads
   * several inputs, which is exactly what compacting small files should
   * cost; with keys (or when growing the file count) it pays the one
   * hash/round-robin shuffle that placement requires.
   */
  def compact(df: DataFrame, targetBytes: Long,
      keyCols: Seq[String] = Nil): DataFrame = {
    require(targetBytes > 0, s"targetBytes must be > 0, got $targetBytes")
    val estBytes =
      df.queryExecution.optimizedPlan.stats.sizeInBytes
    val want = (estBytes + targetBytes - 1) / targetBytes
    val cur = df.rdd.getNumPartitions.max(1)
    val parts = want.min(BigInt(cur)).max(BigInt(1)).toInt
    if (keyCols.nonEmpty) df.repartition(parts, keyCols.map(col): _*)
    else if (parts < cur) df.coalesce(parts)
    else df
  }

  /**
   * Export a frame as `nShards` content-addressed training shards with an
   * integrity manifest — the handoff format between a curation pipeline
   * and a training job: shard assignment is a pure function of the key
   * (`pmod(xxhash64(keys), n)` — stable across cluster sizes and reruns),
   * and `_manifest.json` records per-shard row counts plus an
   * ORDER-INDEPENDENT content checksum (exact decimal sum of per-row
   * xxhash64 over all columns) so a training job can cheaply prove it
   * read exactly what curation wrote, shard by shard.
   *
   * Scale: one hash exchange on the shard id for the write; the manifest
   * aggregates over a RE-READ of the files just written (never over the
   * source plan — a nondeterministic source, or one that changes between
   * the write action and the manifest action, would otherwise produce a
   * manifest describing rows the files do not contain). [[verifyShards]]
   * recomputes the same aggregation later.
   */
  def exportShards(df: DataFrame, path: String, nShards: Int,
      keyCols: Seq[String] = Nil): Seq[(Int, Long, String)] = {
    require(nShards >= 1, "nShards must be >= 1")
    require(!df.columns.contains("__shard"),
      "input already has a __shard column — rename or drop it first")
    val keys = if (keyCols.nonEmpty) keyCols else df.columns.toSeq
    val shard = pmod(xxhash64(keys.map(col): _*), lit(nShards)).cast("int")
    df.withColumn("__shard", shard)
      .repartition(nShards, col("__shard"))
      .write.mode("overwrite").partitionBy("__shard").parquet(path)
    val manifest = readManifestFromFiles(df.sparkSession, path, df.columns.toSeq)
    val json = manifest.map { case (s, n, h) =>
      s"""{"shard": $s, "rows": $n, "checksum": "$h"}"""
    }.mkString("[\n  ", ",\n  ", "\n]")
    // (checksum = exact decimal sum of per-row hashes — a LongType sum
    // would hit the ANSI overflow error after a handful of random 64-bit
    // hashes; decimal(38,0) holds ~10^19 rows without wrapping)
    val p = new org.apache.hadoop.fs.Path(path, "_manifest.json")
    val fs = p.getFileSystem(org.apache.spark.sql.graftshim.ColumnBridge.sessionHadoopConf(df.sparkSession))
    val out = fs.create(p, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    manifest
  }

  /** Recompute (shard, rows, checksum) from the written shards and
   * compare with `_manifest.json`; returns the mismatching shard ids
   * (empty = intact). */
  def verifyShards(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Int] = {
    val p = new org.apache.hadoop.fs.Path(path, "_manifest.json")
    val fs = p.getFileSystem(org.apache.spark.sql.graftshim.ColumnBridge.sessionHadoopConf(spark))
    val in = fs.open(p)
    val json = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    val entry = """\{"shard": (\d+), "rows": (\d+), "checksum": "(-?\d+)"\}""".r
    val want = entry.findAllMatchIn(json)
      .map(m => m.group(1).toInt -> (m.group(2).toLong, m.group(3))).toMap
    // an all-rows-filtered export writes no parquet files (manifest []) —
    // schema inference then fails, but that is an intact empty export
    val got = try {
      val back = SparkGraftEngine(spark).load(path, "parquet")
      val dataCols = back.columns.filterNot(_ == "__shard").toSeq
      readBackManifest(back, dataCols).map(t => t._1 -> (t._2, t._3)).toMap
    } catch {
      case _: org.apache.spark.sql.AnalysisException => Map.empty[Int, (Long, String)]
    }
    (want.keySet ++ got.keySet).toSeq.sorted
      .filter(s => got.get(s) != want.get(s))
  }

  /** Manifest from the files at `path` (empty export → empty manifest). */
  private def readManifestFromFiles(
      spark: org.apache.spark.sql.SparkSession, path: String,
      dataCols: Seq[String]): Seq[(Int, Long, String)] =
    try readBackManifest(SparkGraftEngine(spark).load(path, "parquet"), dataCols)
    catch {
      case _: org.apache.spark.sql.AnalysisException => Seq.empty
    }

  /** (shard, rows, exact-decimal-sum-of-row-hashes) per shard, one agg
   * pass over a read-back frame. The row hash covers `dataCols` in the
   * given order; the shard id is cast explicitly so the result does not
   * depend on spark.sql.sources.partitionColumnTypeInference. */
  private def readBackManifest(back: DataFrame,
      dataCols: Seq[String]): Seq[(Int, Long, String)] = {
    back
      .groupBy(col("__shard").cast("int").as("__shard"))
      .agg(count(lit(1)).as("n"),
        sum(xxhash64(dataCols.map(col): _*).cast("decimal(38,0)")).as("h"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1),
        r.getDecimal(2).toBigInteger.toString))
      .sortBy(_._1).toSeq
  }

  // ---- WebDataset-style tar shards (multimodal training exports) ----

  /** One parsed tar entry: (shard, sample key, field extension, bytes). */
  private val TarRowSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("shard",
      org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("key",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("ext",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("content",
      org.apache.spark.sql.types.BinaryType, nullable = false)))

  private def tarShardPath(path: String, shard: Int): String =
    f"$path/shard-$shard%05d.tar"

  /**
   * Export samples as WebDataset-layout tar shards — the standard
   * container multimodal training loaders stream (each sample is the
   * consecutive entries `<key>.<ext>` inside a `.tar`; loaders shard
   * across workers by FILE, so the shard count is the read parallelism).
   * `fields` maps columns to entry extensions: binary columns write raw
   * bytes, string columns write UTF-8; a NULL field value writes no entry
   * (the WebDataset missing-field convention — a row whose fields are ALL
   * null therefore contributes no sample at all); a NULL sample id fails
   * loudly (a silently dropped sample corrupts the dataset census).
   * Duplicate sample ids are allowed only when their non-null fields are
   * DISJOINT (the rows merge into one sample, entry groups adjacent);
   * a duplicate (id, extension) pair fails loudly — real WebDataset
   * readers reject a repeated suffix within one sample, so writing it
   * would produce shards that crash the training job at read time.
   * The census counts distinct sample keys that wrote ≥ 1 entry, exactly
   * what [[verifyTarShards]] recounts. Entries are mod-time-zero and
   * (key, fields)-sorted, so a re-export of identical data is
   * BYTE-identical — shard checksums are comparable across runs.
   * Overwrite semantics like the parquet [[exportShards]]: stale
   * `shard-*.tar` files and the manifest at `path` are deleted first.
   * Task-commit protocol: each shard streams to an ATTEMPT-UNIQUE temp
   * path under `path/_tmp/` and renames into place only after
   * `tar.close()` — a speculative or zombie retried attempt can never
   * interleave bytes into the final file (rename is atomic on
   * HDFS/local); whichever complete attempt renames first wins, and
   * because entries are deterministically sorted and mod-time-zero the
   * competing attempts' bytes are IDENTICAL, so the manifest CRC
   * (collected from the attempt Spark kept) always describes the file
   * on disk. The manifest is written LAST, only after every task succeeded, and
   * [[loadTarShards]]/[[verifyTarShards]] REQUIRE it — so an
   * interrupted re-export (old data already deleted, some shards
   * written) reads as a loud missing-manifest error, never as a
   * silently smaller dataset. Writes `_tar_manifest.json`; returns
   * per-shard (shard, samples, entries, crc32).
   *
   * Scale: one hash exchange on the sample key (same placement as
   * [[exportShards]]), then each task STREAMS its rows into tar files —
   * memory per task is one entry, not one shard; the manifest is
   * #shards driver rows. Rotate `nShards` so shards land near the
   * loader-friendly 0.1–1 GB: shard count is also the maximum read
   * parallelism downstream.
   */
  /** The tar export's PRE-SINK frame, exposed for plan evidence (PLANS.md
   * m12 section): projection to (shard, key, payload fields) → ONE hash
   * exchange on the salt-mapped shard id (exact shard→task identity
   * placement through the ordinary UnsafeRow shuffle — see the salt-search
   * comment below) → an intra-partition sort on (shard, key, ord). No
   * global sort, no second exchange; the sink itself is the per-partition
   * tar writer that consumes this frame. */
  private[graft] def tarExportPreSink(df: DataFrame, idCol: String,
      fields: Seq[(String, String)], nShards: Int): DataFrame = {
    import org.apache.spark.sql.types.{BinaryType, StringType}
    require(nShards >= 1, "nShards must be >= 1")
    require(fields.nonEmpty, "exportTarShards needs >= 1 (column, extension)")
    require(fields.map(_._2).distinct.size == fields.size,
      s"duplicate extension in $fields")
    fields.foreach { case (c, e) =>
      require(e.nonEmpty && !e.contains("/") && !e.contains("."),
        s"extension '$e' must be non-empty with no '.'/'/'")
      df.schema(c).dataType match {
        case BinaryType | StringType => ()
        case other => throw new IllegalArgumentException(
          s"field column '$c' must be binary or string, got $other " +
            "(to_json/cast upstream for other types)")
      }
    }
    val key = when(col(idCol).isNull,
      raise_error(lit("exportTarShards: NULL sample id"))
        .cast("string"))
      .otherwise(col(idCol).cast("string"))
    val proj = df.select(
      (pmod(xxhash64(col(idCol).cast("string")), lit(nShards)).cast("int")
        .as("__shard") +:
        key.as("__key") +:
        fields.zipWithIndex.map { case ((c, _), i) =>
          (df.schema(c).dataType match {
            case StringType => col(c).cast("binary")
            case _ => col(c)
          }).as(s"__f$i")
        }): _*)
    // EXACT shard→task placement WITHOUT leaving Tungsten: hashing the
    // already-computed shard id (plain repartition) collides ~37% of
    // shard values into shared tasks (balls into bins) and strands the
    // export on the busiest writer; an RDD identity partitioner fixes
    // placement but pays the Java-serialized pair shuffle (~2× measured);
    // repartitionByRange pays an extra sampling scan. Instead, find for
    // each shard id a SALT int whose Murmur3 hash (Spark's hash
    // partitioning function, seed 42) lands on exactly that partition,
    // and repartition on the mapped salt — identity placement through
    // the ordinary UnsafeRow shuffle. The driver search is ~nShards²
    // hashInt calls, microseconds.
    val salts = Array.tabulate(nShards) { s =>
      var x = 0
      while (((org.apache.spark.unsafe.hash.Murmur3_x86_32
        .hashInt(x, 42) % nShards) + nShards) % nShards != s) x += 1
      x
    }
    proj
      // deterministic tie order for duplicate keys via one 8-byte hash
      // over (key, fields) — sorting on the raw payload bytes would make
      // every sort compare walk kilobyte values
      .withColumn("__ord",
        xxhash64((col("__key") +:
          fields.indices.map(i => col(s"__f$i"))): _*))
      .repartition(nShards,
        element_at(lit(salts), col("__shard") + 1))
      .sortWithinPartitions(col("__shard"), col("__key"), col("__ord"))
  }

  def exportTarShards(df: DataFrame, path: String, idCol: String,
      fields: Seq[(String, String)], nShards: Int): Seq[(Int, Long, Long, String)] = {
    val preSink = tarExportPreSink(df, idCol, fields, nShards)
    val exts = fields.map(_._2)
    // overwrite: drop stale shard files + manifest BEFORE writing, so a
    // smaller re-export cannot leave orphan shards behind. Driver-side
    // path resolution uses the SESSION conf — the same one the tasks get.
    val dirPath = new org.apache.hadoop.fs.Path(path)
    val dirFs = dirPath.getFileSystem(
      org.apache.spark.sql.graftshim.ColumnBridge
        .sessionHadoopConf(df.sparkSession))
    if (dirFs.exists(dirPath)) {
      listTarShards(df.sparkSession, path)
        .foreach { case (_, p) =>
          dirFs.delete(new org.apache.hadoop.fs.Path(p), false) }
      dirFs.delete(new org.apache.hadoop.fs.Path(path, "_tar_manifest.json"),
        false)
      // stale temp dir from an interrupted earlier export
      dirFs.delete(new org.apache.hadoop.fs.Path(path, "_tmp"), true)
    }
    // the session's Hadoop conf, broadcast — a bare `new Configuration()`
    // in the task would lose spark.hadoop.* (wrong fs.defaultFS, missing
    // object-store credentials) while the driver wrote the manifest to
    // the configured FS
    val getConf = org.apache.spark.sql.graftshim.ColumnBridge
      .hadoopConfAccessor(df.sparkSession)
    val results = preSink
      .rdd.mapPartitions { rows =>
        // imperative per-partition sink (the RDD escape hatch's intended
        // use): stream rows into one tar per shard value held by this
        // task — hash partitioning gives each shard value to exactly one
        // task, a task may hold several shard values
        val conf = getConf()
        // attempt-unique temp names make concurrent attempts (speculation,
        // zombie retries) write DISJOINT files; the rename after close is
        // the commit point — a final path only ever holds complete bytes
        val attemptId = Option(org.apache.spark.TaskContext.get())
          .map(_.taskAttemptId()).getOrElse(0L)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long, String)]
        var shard = -1
        var tar: org.apache.commons.compress.archivers.tar.TarArchiveOutputStream = null
        var tmpPath: org.apache.hadoop.fs.Path = null
        var fs: org.apache.hadoop.fs.FileSystem = null
        var samples = 0L
        var entries = 0L
        var lastKey: String = null
        var keyWrote = false
        val keyExts = scala.collection.mutable.HashSet.empty[String]
        var crc: java.util.zip.CRC32 = null
        def closeShard(): Unit = if (tar != null) {
          tar.finish(); tar.close()
          commitShardFile(fs, tmpPath,
            new org.apache.hadoop.fs.Path(tarShardPath(path, shard)))
          out += ((shard, samples, entries, java.lang.Long.toString(crc.getValue)))
          tar = null
        }
        rows.foreach { r =>
          val s = r.getInt(0)
          if (s != shard) {
            closeShard()
            shard = s; samples = 0L; entries = 0L; lastKey = null
            crc = new java.util.zip.CRC32()
            tmpPath = new org.apache.hadoop.fs.Path(
              f"$path/_tmp/shard-$s%05d.tar.attempt-$attemptId")
            fs = tmpPath.getFileSystem(conf)
            tar = new org.apache.commons.compress.archivers.tar.TarArchiveOutputStream(
              fs.create(tmpPath, true))
            tar.setLongFileMode(org.apache.commons.compress.archivers.tar
              .TarArchiveOutputStream.LONGFILE_POSIX)
          }
          val k = r.getString(1)
          if (k != lastKey) { lastKey = k; keyWrote = false; keyExts.clear() }
          exts.zipWithIndex.foreach { case (ext, i) =>
            if (!r.isNullAt(2 + i)) {
              // a repeated suffix within one sample crashes real
              // WebDataset readers at train time — fail at WRITE time
              if (!keyExts.add(ext)) throw new IllegalStateException(
                s"exportTarShards: duplicate entry '$k.$ext' — rows " +
                  "sharing a sample id must carry disjoint non-null fields")
              // census: a sample exists once it writes its FIRST entry
              // (a row whose fields are all null contributes no sample),
              // exactly what verifyTarShards recounts from the entries
              if (!keyWrote) { samples += 1; keyWrote = true }
              val bytes = r.getAs[Array[Byte]](2 + i)
              val name = s"$k.$ext"
              val entry = new org.apache.commons.compress.archivers.tar
                .TarArchiveEntry(name)
              entry.setSize(bytes.length.toLong)
              entry.setModTime(0L)
              tar.putArchiveEntry(entry)
              tar.write(bytes)
              tar.closeArchiveEntry()
              crc.update(name.getBytes("UTF-8"))
              crc.update(bytes)
              entries += 1
            }
          }
        }
        closeShard()
        out.iterator
      }.collect().sortBy(_._1).toSeq
    // every task committed (renamed) its shards — drop the temp dir with
    // any uncommitted zombie-attempt leftovers, then publish the manifest
    dirFs.delete(new org.apache.hadoop.fs.Path(path, "_tmp"), true)
    val json = results.map { case (s, n, e, c) =>
      s"""{"shard": $s, "samples": $n, "entries": $e, "crc": "$c"}"""
    }.mkString("[\n  ", ",\n  ", "\n]")
    val mp = new org.apache.hadoop.fs.Path(path, "_tar_manifest.json")
    val fs = mp.getFileSystem(org.apache.spark.sql.graftshim.ColumnBridge.sessionHadoopConf(df.sparkSession))
    val os = fs.create(mp, true)
    try os.write(json.getBytes("UTF-8")) finally os.close()
    results
  }

  /** Parse one tar stream into (key, ext, content) triples (streaming —
   * one entry in memory at a time). Entry names split at the LAST dot.
   * Closeable so a consumer that stops EARLY (a `limit()` downstream, an
   * exception between entries) can release the underlying
   * FSDataInputStream instead of leaking it for the rest of the task;
   * exhausting the iterator closes it automatically. */
  private final class TarEntryIterator(in: java.io.InputStream)
      extends Iterator[(String, String, Array[Byte])] with java.io.Closeable {
      private val tis =
        new org.apache.commons.compress.archivers.tar.TarArchiveInputStream(in)
      // the FIRST header read is deferred to hasNext/next: constructing
      // the iterator must never throw, so (a) a corrupt first header
      // surfaces inside verifyTarShards' try and maps to the per-shard
      // 'corrupt' verdict instead of failing the job, and (b) callers
      // always hold a closeable handle to the just-opened stream — an
      // eager read here would leak the FSDataInputStream on failure
      private var fetched = false
      private var nextEntry: org.apache.commons.compress.archivers.ArchiveEntry = null
      private var closed = false
      private def fetch(): Unit = if (!fetched) {
        fetched = true
        nextEntry = tis.getNextEntry
      }
      override def close(): Unit = if (!closed) { closed = true; tis.close() }
      override def hasNext: Boolean = {
        fetch()
        if (nextEntry == null) { close(); false } else true
      }
      override def next(): (String, String, Array[Byte]) = {
        fetch()
        val name = nextEntry.getName
        val size = nextEntry.getSize
        // a corrupted header's size field must surface as the IOException
        // the verify pass converts to a per-shard mismatch verdict —
        // readNBytes(negative) would throw IllegalArgumentException and
        // fail the whole job instead
        if (size < 0 || size > Int.MaxValue) throw new java.io.IOException(
          s"corrupt tar entry '$name': size $size out of range")
        val bytes = tis.readNBytes(size.toInt)
        if (bytes.length != size) throw new java.io.IOException(
          s"corrupt tar entry '$name': truncated at ${bytes.length}/$size")
        nextEntry = tis.getNextEntry
        val dot = name.lastIndexOf('.')
        if (dot <= 0) (name, "", bytes)
        else (name.substring(0, dot), name.substring(dot + 1), bytes)
      }
  }

  /** The tar-shard task-commit point: atomically rename a COMPLETE temp
   * shard into its final path. If the rename is refused because a
   * competing attempt (speculation, zombie retry) already committed the
   * shard, drop our copy — the bytes are identical by construction
   * (deterministic sort order, zero mod-times), so the winner's file
   * already matches the manifest CRC the driver will record. Any other
   * rename failure is a real error and must fail the task.
   * Package-private so the losing-attempt path has a direct spec. */
  private[graft] def commitShardFile(fs: org.apache.hadoop.fs.FileSystem,
      tmp: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Unit =
    if (!fs.rename(tmp, dst)) {
      if (fs.exists(dst)) fs.delete(tmp, false)
      else throw new java.io.IOException(
        s"exportTarShards: rename $tmp -> $dst failed")
    }

  /** Shard ids listed in `_tar_manifest.json`; throws (with a pointed
   * message) if the manifest is absent — the export never completed. */
  private def tarManifestShards(spark: org.apache.spark.sql.SparkSession,
      path: String): Set[Int] = {
    val mp = new org.apache.hadoop.fs.Path(path, "_tar_manifest.json")
    val fs = mp.getFileSystem(
      org.apache.spark.sql.graftshim.ColumnBridge.sessionHadoopConf(spark))
    if (!fs.exists(mp)) throw new java.io.FileNotFoundException(
      s"$mp: no tar manifest — the export at $path never completed " +
        "(the manifest is written last); re-run exportTarShards")
    val in = fs.open(mp)
    val json = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    """"shard": (\d+)""".r.findAllMatchIn(json).map(_.group(1).toInt).toSet
  }

  /** List a tar-shard directory's shard files as (shard, path) pairs. */
  private def listTarShards(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(Int, String)] = {
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(
      org.apache.spark.sql.graftshim.ColumnBridge.sessionHadoopConf(spark))
    val pat = """shard-(\d+)\.tar""".r
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.flatMap { st =>
      st.getPath.getName match {
        case pat(s) => Some(s.toInt -> st.getPath.toString)
        case _ => None
      }
    }.sortBy(_._1)
  }

  /**
   * Load tar shards back as a (shard, key, ext, content) frame — one row
   * per tar ENTRY; reassemble samples with
   * `groupBy(key).pivot(ext)` or a map aggregate downstream. Shard files
   * parse in parallel (one task per file — the WebDataset read-parallelism
   * contract), each streamed entry by entry. REQUIRES the manifest: it is
   * written last by a successful export, so its absence means an
   * interrupted/partial export — loading would silently serve a subset
   * of the dataset. Only manifested shard ids are read (an orphan file
   * is verifyTarShards' business, not training input).
   */
  def loadTarShards(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val manifested = tarManifestShards(spark, path)
    val files = listTarShards(spark, path).filter(f => manifested(f._1))
    val missing = manifested -- files.map(_._1)
    require(missing.isEmpty,
      s"loadTarShards: manifest lists shard(s) ${missing.toSeq.sorted.mkString(", ")} " +
        s"but the file(s) are absent at $path — the export is damaged")
    val getConf = org.apache.spark.sql.graftshim.ColumnBridge
      .hadoopConfAccessor(spark)
    val rdd = spark.sparkContext
      .parallelize(files, math.max(1, files.size))
      .mapPartitions { it =>
        val conf = getConf()
        // at most one tar is open at a time (flatMap drains each inner
        // iterator before opening the next); the completion listener
        // closes the in-flight one when the task ends EARLY (limit,
        // exception) — exhaustion already self-closes
        var current: TarEntryIterator = null
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null) tc.addTaskCompletionListener[Unit] { _ =>
          if (current != null) current.close()
        }
        it.flatMap { case (shard, p) =>
          val hp = new org.apache.hadoop.fs.Path(p)
          current = new TarEntryIterator(hp.getFileSystem(conf).open(hp))
          current.map { case (k, e, b) =>
            org.apache.spark.sql.Row(shard, k, e, b)
          }
        }
      }
    spark.createDataFrame(rdd, TarRowSchema)
  }

  /** Recompute every shard's (samples, entries, crc32) from the written
   * tar files and compare with `_tar_manifest.json`; returns the
   * mismatching shard ids (missing files and unmanifested files count as
   * mismatches; empty = intact).
   *
   * Memory note: the sample recount keys a per-shard HashSet of distinct
   * sample ids — bounded by SAMPLES PER SHARD, not bytes. At the
   * recommended 0.1–1 GB shard rotation this is thousands of keys; a
   * pathological shard of millions of tiny samples makes the verify task
   * hold every key string of that one shard (export with more shards if
   * that bites). */
  def verifyTarShards(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Int] = {
    val mp = new org.apache.hadoop.fs.Path(path, "_tar_manifest.json")
    val fs = mp.getFileSystem(org.apache.spark.sql.graftshim.ColumnBridge.sessionHadoopConf(spark))
    val in = fs.open(mp)
    val json = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    val entry =
      """\{"shard": (\d+), "samples": (\d+), "entries": (\d+), "crc": "(\d+)"\}""".r
    val want = entry.findAllMatchIn(json)
      .map(m => m.group(1).toInt ->
        ((m.group(2).toLong, m.group(3).toLong, m.group(4)))).toMap
    val files = listTarShards(spark, path)
    val getConf = org.apache.spark.sql.graftshim.ColumnBridge
      .hadoopConfAccessor(spark)
    val got = spark.sparkContext
      .parallelize(files, math.max(1, files.size))
      .map { case (shard, p) =>
        val conf = getConf()
        val hp = new org.apache.hadoop.fs.Path(p)
        val crc = new java.util.zip.CRC32()
        var samples = 0L
        var entries = 0L
        val seen = scala.collection.mutable.HashSet.empty[String]
        // a truncated/corrupt tar throws mid-parse — that's a mismatch
        // verdict for this shard, not a job failure (the stream still
        // closes on that path via the finally)
        val itr = new TarEntryIterator(hp.getFileSystem(conf).open(hp))
        try {
          itr.foreach { case (k, e, b) =>
            crc.update(s"$k.$e".getBytes("UTF-8")); crc.update(b)
            entries += 1
            if (seen.add(k)) samples += 1
          }
          shard -> ((samples, entries, java.lang.Long.toString(crc.getValue)))
        } catch {
          // any parse failure (IOException from our size guards, or
          // whatever commons-compress throws on a mangled header) is a
          // per-shard mismatch verdict, never a job failure
          case scala.util.control.NonFatal(_) =>
            shard -> ((-1L, -1L, "corrupt"))
        } finally itr.close()
      }.collect().toMap
    (want.keySet ++ got.keySet).toSeq.sorted
      .filter(s => got.get(s) != want.get(s))
  }
}
