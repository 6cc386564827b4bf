package graft.sql

import graft.PartitionSpec
import graft.engine.GraftEngine
import graft.schema.SchemaExpr
import graft.transform.{PartitionCursor, Transform}
import graft.workflow.Workflow
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{ArrayType, StructType}
import scala.collection.mutable
import scala.util.matching.Regex

/**
 * The dataflow SQL dialect of the reference (FugueSQL, grammar semantics in
 * /root/reference/fugue/sql/_visitors.py:305-912) re-implemented as a
 * statement-prefix recursive-descent parser: standard SELECT bodies pass
 * through verbatim to `spark.sql` (Catalyst parses/optimizes them — no
 * second SQL engine), while dataflow keywords compile to engine/transform
 * calls.
 *
 * As in the reference, a script compiles into one [[graft.workflow.Workflow]]
 * DAG, which then runs: persist, checkpoints, saves, yields, memoization and
 * auto-persist of a frame read twice are Workflow's. Each statement's nodes
 * carry its ordinal and text in their UUIDs, so identical statements are
 * never merged; a SELECT depends only on the frames it names. Side effects
 * (SAVE, OUTPUT, PRINT, OUTTRANSFORM, CALLBACK drains, YIELD FILE/TABLE)
 * take effect in script order, an argument error raised while the DAG runs
 * still names its statement, and a SUB whose module returns None passes its
 * first input through. A reused DETERMINISTIC CHECKPOINT skips the
 * statements it reads from, SUB and PROCESS calls included, as Workflow
 * skips a reused checkpoint's inputs; a CREATE USING it reads from still
 * runs, because the frame it creates is part of the key. Checkpoints
 * follow Workflow's paths: no `sql_*` directory is written, so an old
 * `sql_det_*` checkpoint is not reused (one recompute).
 *
 * Quoting: `'…'`, `"…"` and `` `…` `` are opaque. A doubled delimiter
 * stays inside, and in `'…'` and `"…"` a backslash escapes the next char,
 * as in Spark SQL. `--` outside them starts a comment that runs to the end
 * of the line, and parens count only outside both, so a line that starts
 * inside a quoted string or an open paren continues its statement. A
 * quoted param value (`USING ext(k:v)`, LOAD/SAVE params, FILLNA PARAMS,
 * RENAME COLUMNS) or quoted name in a column list loses its quotes,
 * whatever the quote kind.
 *
 * Dataframe references: a statement's dataframe positions are the words
 * after its keyword up to the first clause word (USING, BY, ON, COLUMNS,
 * PARAMS, PREPARTITION, PRESORT, AS, SCHEMA, CALLBACK, TITLE), and the
 * words after FROM up to the next one. There grammar words, numbers and
 * string literals are skipped; any other identifier, plain or
 * backtick-quoted, must name a frame (an input, an assigned statement, an
 * inline sub-statement or an earlier YIELD's name), or the statement
 * raises "unknown dataframe". A statement that names none reads the
 * previous statement's frame. SELECT reads the frames Spark's parser
 * finds in it.
 *
 * Supported statements (each optionally prefixed with `name =`):
 * {{{
 *   LOAD [PARQUET|CSV|JSON] "path" [(k:v,..)] [COLUMNS a,b | a:int,b:str]
 *   SAVE [AND USE] [df] [PREPARTITION BY k,..] OVERWRITE|APPEND "path" [SINGLE] [(k:v,..)]
 *   SELECT ... [FROM df ...]          -- passthrough; implicit FROM previous
 *   CREATE [DATA] [[..],[..]] SCHEMA s | CREATE USING creator[(k:v,..)]
 *   ZIP df1, df2 [INNER|LEFT|RIGHT|FULL [OUTER]] BY k,.. [PRESORT c,..]
 *   COTRANSFORM df1, df2 [INNER|LEFT|RIGHT|FULL [OUTER]] BY k,.. [PRESORT c,..] USING ext[(k:v,..)] [SCHEMA s]
 *   TAKE n ROW[S] [FROM df] [PREPARTITION BY k,..] [PRESORT c [ASC|DESC],..] [NULLS FIRST|LAST]
 *   SAMPLE [df] [REPLACE] x PERCENT | n ROWS [SEED n]
 *   DROPNA [ANY|ALL] [ON a,b] [FROM df]
 *   FILLNA PARAMS a:v,b:v [FROM df]
 *   RENAME COLUMNS a:b,c:d [FROM df]
 *   ALTER COLUMNS a:int,b:str [FROM df]
 *   DROP COLUMNS a,b [FROM df]
 *   DISTINCT [df]
 *   TRANSFORM [df] [PREPARTITION BY k,.. [PRESORT c,..]] USING ext[(k:v,..)] [SCHEMA s] [CALLBACK cb]
 *   OUTTRANSFORM [df] [PREPARTITION ..] USING ext[(k:v,..)] [CALLBACK cb]
 *   PRINT [n ROWS] [FROM] [df, df2] [ROWCOUNT] [TITLE "t"]
 *   PERSIST [df] / BROADCAST [df]
 *   [WEAK|STRONG] CHECKPOINT [LAZY] [df] / DETERMINISTIC CHECKPOINT ["ns"] [df]
 *   YIELD [LOCAL] [DATAFRAME|FILE|TABLE] [df] AS name
 * }}}
 */
object GraftSql {

  /** A named per-partition transformer callable from TRANSFORM ... USING.
   * `cbFn`, when provided, replaces `fn` for `TRANSFORM ... CALLBACK name`
   * statements: it additionally receives the [[graft.transform.CallbackChannel]]
   * whose posts are delivered to the named driver-side handler. */
  final case class TransformerDef(
      outputSchema: (org.apache.spark.sql.types.StructType, Map[String, String]) =>
        org.apache.spark.sql.types.StructType,
      fn: (PartitionCursor, Iterator[Row], Map[String, String]) => Iterator[Row],
      cbFn: Option[(PartitionCursor, Iterator[Row], Map[String, String],
        graft.transform.CallbackChannel) => Iterator[Row]] = None,
      validation: Map[String, String] = Map.empty)

  /** A named per-key cotransformer for COTRANSFORM a, b BY keys USING —
   * the reference's zip+cotransform collapsed into one statement (the blob
   * zip dataframe is a Python workaround; cogroup is native here). */
  final case class CoTransformerDef(
      outputSchema: (org.apache.spark.sql.types.StructType,
        org.apache.spark.sql.types.StructType, Map[String, String]) =>
        org.apache.spark.sql.types.StructType,
      fn: (Seq[Any], Iterator[Row], Iterator[Row], Map[String, String]) => Iterator[Row],
      validation: Map[String, String] = Map.empty)

  /** Driver-side processor: n dataframes in, one out (PROCESS ... USING). */
  final case class ProcessorDef(
      fn: (GraftEngine, Seq[DataFrame], Map[String, String]) => DataFrame)

  /** Driver-side outputter: n dataframes in, side effect (OUTPUT ... USING). */
  final case class OutputterDef(
      fn: (Seq[DataFrame], Map[String, String]) => Unit)

  /** Driver-side creator: no inputs, one dataframe out (CREATE USING). */
  final case class CreatorDef(
      fn: (GraftEngine, Map[String, String]) => DataFrame)

  /** A reusable sub-pipeline invoked by `SUB [dfs] USING module [(params)]`
   * (reference module invocation, _visitors.py:697-726): receives the
   * engine and the referenced dataframes (or the previous statement's
   * result), may return a dataframe (becoming the statement output) or
   * None (side-effect-only module). */
  final case class ModuleDef(
      fn: (GraftEngine, Seq[DataFrame], Map[String, String]) => Option[DataFrame])

  /** Extension registry passed to [[run]]. `callbacks` are driver-side
   * handlers for the TRANSFORM/OUTTRANSFORM `CALLBACK name` clause
   * (reference `CALLBACK f`, _visitors.py:428-477): executor-side posts go
   * through a [[graft.transform.CallbackChannel]] and are delivered to the
   * named handler as (topic, message) pairs. */
  final case class Extensions(
      transformers: Map[String, TransformerDef] = Map.empty,
      cotransformers: Map[String, CoTransformerDef] = Map.empty,
      processors: Map[String, ProcessorDef] = Map.empty,
      outputters: Map[String, OutputterDef] = Map.empty,
      creators: Map[String, CreatorDef] = Map.empty,
      callbacks: Map[String, (String, String) => Unit] = Map.empty,
      modules: Map[String, ModuleDef] = Map.empty)

  final case class Result(last: Option[DataFrame], yields: Map[String, DataFrame])

  /** Built-in extensions, available in every script. Outputters (reference
   * fugue/extensions/builtins/outputters.py:22,37):
   * `OUTPUT a, b USING assert_eq` — distributed multiset equality, params
   * `no_check_schema:true`, `check_order:true`, `digits:n`;
   * `OUTPUT a USING show` — params `n:rows`.
   * Processors (beyond-reference — the curation library as dialect
   * statements): `PROCESS docs USING dedup_exact(keys:"url,text")`,
   * `drop_near_dups(threshold:0.5[, by:quality_col[, ascending:true]])`,
   * `lm_score(id:doc_id, col:text)`, `quality_filter(min_tokens:5, ...)`,
   * `redact_pii(col:text)`, `chunk_tokens(chunk:256, overlap:0)`,
   * `PROCESS corpus, eval USING decontaminate(k:5, threshold:0.5)`,
   * `clean_text(col:text)`, `dedup_segments(segment:50)`,
   * `ngram_stats(n:2)`,
   * `PROCESS batch, corpus USING dedup_against(k:3, threshold:0.8)`,
   * `zorder(cols:"x,y", bits:8[, partitions:n])` (Morton layout
   * clustering), `sketch_distinct(keys:"source", col:doc_id, lgk:12)`
   * (mergeable HLL distinct estimate per key),
   * `weighted_sample(n:100, w:weight[, by:keys, id:doc_id, seed:s])`
   * (Efraimidis–Spirakis weighted sample without replacement),
   * `frequent_items(keys:"source", col:text, k:50)` (mergeable
   * Misra–Gries heavy hitters with deterministic bounds),
   * `span_dedup(id:doc_id, col:text, span:50, min_count:2)`
   * (exact-substring duplicated-span removal),
   * `compact(target_mb:128[, by:keys])` (size-targeted small-file
   * compaction),
   * `line_dedup(id:doc_id, col:text[, max_df:1, sep:...])` (exact
   * corpus-frequent line removal),
   * `bloom_line_dedup(..., fpp:0.01)` (its Bloom-filter variant for
   * duplicate sets too large to collect),
   * `quality_report(rules:"not_null:c,min:v:0,...")` /
   * `quality_enforce(rules:...)` (single-pass declarative data-quality
   * gate — [[graft.functions.Checks.parseRules]] documents the rule DSL),
   * `zscore_outliers(col:v[, by:keys, threshold:3.0])` /
   * `mad_outliers(col:v[, by, threshold:3.5])` /
   * `winsorize(col:v[, by, lo:0.01, hi:0.99, approx:true])` (per-group
   * distribution gates, no windows),
   * `histogram(col:v[, bins:20])` (equi-width, empty buckets kept),
   * `corr_matrix(cols:"a,b,c")` (single-pass pairwise Pearson),
   * `PROCESS left, right USING ann_join(id:vec_id, col:embedding, k:5)`
   * (large-x-large approximate-neighbor enrichment, nothing broadcast),
   * `export_shards(path:"...", n:16[, keys:id])` (manifest-verified
   * training-shard export; yields the manifest frame) and
   * `PROCESS before, after USING snapshot_diff(keys:"id"[, hash:true,
   * unchanged:true])` (added/removed/changed audit between versions),
   * `pca(id:vec_id, col:embedding, k:8[, out:pca, whiten:true])`
   * (distributed PCA: one moment pass + plan-embedded projection,
   * optional per-axis unit-variance whitening),
   * `select_by_budget(id:doc_id, size:n_tokens, rank:score,
   * budget:1000000[, ascending:true])` (quality-ranked prefix under a
   * token budget) and
   * `PROCESS a, b USING overlap_estimate(col:text[, lgk:12])`
   * (HLL inclusion–exclusion corpus-overlap diagnostic),
   * `PROCESS before, after USING psi_drift(col:v[, bins:10, eps:1e-6])`
   * (population-stability drift gate between snapshots),
   * `PROCESS before, after USING cat_drift(col:lang[, eps:1e-6])`
   * (its categorical sibling for the language/source mix) and
   * `page_rank(src:src, dst:dst[, iters:10, damping:0.85, w:weight])`
   * (link-graph centrality for domain-quality ranking; optional
   * edge-weight column) and
   * `quantize_int8(col:embedding[, out:q])` (per-vector int8 storage
   * compression — struct(qmin, qscale, codes));
   * temporal/event analytics: `funnel(steps:"a,b,c", window:3600
   * [, user, ts, event, restart:true])` (greedy or windowed-re-entry),
   * `retention(period:604800[, user, ts])`,
   * `merge_intervals(keys:g, start:s, end:e[, skip_validate:true])`,
   * `gap_fill(...)`, `rank_normalize(...)`, `spearman(...)`,
   * `PROCESS before, after USING ks_drift(col:v[, bins:200])`;
   * graph: `triangles(src, dst)`, `clustering_coeff(src, dst)`,
   * `connected_components(src, dst[, max_iters:30])`,
   * `PROCESS edges, seeds USING ppr(...)`, `label_propagation(...)`,
   * `degrees(...)`, `kmeans_cluster(...)`;
   * retrieval/scoring: `PROCESS corpus, queries USING bm25(k:10, ...)`,
   * `PROCESS lexical, dense USING rrf_fuse([query:.., id:.., k:60,
   * top:10])` (reciprocal-rank fusion of ranked lists),
   * `PROCESS src, tgt USING margin_mine([id:.., col:.., k:4, min:..])`
   * (Artetxe-Schwenk ratio-margin bitext mining),
   * `containment_pairs(...)`, `trigram_score(...)`, `gopher_rules(...)`,
   * `c4_clean(...)`, `link_graph(...)`;
   * media: `media_census([id:.., col:..])` (magic-byte type census),
   * `demux_frames(...)` (decode-or-box-walk frame demux),
   * `mp4_demux(...)` (ISO-BMFF sample table), `mp3_frames(...)`
   * (MPEG-audio frame table), `ogg_pages(...)` / `ogg_packets(...)` /
   * `ogg_audio_meta(...)` (RFC 3533 page table / cross-page packet
   * reassembly / OpusHead-VorbisId header decode), `id3_tags(...)`
   * (ID3v2 text-frame extraction), `flac_info(...)` (STREAMINFO
   * decode), `flac_comments(...)` (FLAC VORBIS_COMMENT tag
   * extraction), `mp4_tags(...)` (iTunes-style ilst tag extraction),
   * `riff_tags(...)` (WAV LIST/INFO tags), `image_meta(...)` (header
   * dims/orientation census: JPEG/PNG/GIF/BMP/WebP/TIFF),
   * `mkv_tracks(...)` (Matroska/WebM EBML walk), `zip_entries(...)`
   * (ZIP central-directory census), `zstd_frames(...)` (zstd frame
   * census, zero decompression), `url_canon([id:.., col:url])`
   * (RFC 3986 canonicalization for dedup keys), `gzip_members(...)`
   * (RFC 1952 member walk with CRC/ISIZE verification — the .warc.gz
   * record locator), `avro_blocks(...)` (Avro OCF block census, zero
   * row decode), `png_text(...)` (tEXt/zTXt/iTXt extraction with chunk
   * CRCs verified), `robots_rules([id:.., col:text])` (RFC 9309
   * robots.txt → broadcastable rule rows), `eml_headers(...)`
   * (RFC 5322 header extraction with RFC 2047 encoded-word decode),
   * `json_shape(...)` (JSON structural-shape census),
   * `parquet_footer(...)` (parquet FileMetaData thrift census),
   * `exif_gps(...)` (EXIF IFD0→Exif/GPS sub-IFD walk),
   * `mime_parts(...)` (RFC 2045/2046 multipart body census — leaf
   * parts with decoded-size accounting, no payload retention),
   * `zip_extract(...)` (ZIP entry extraction by central-directory
   * locator — stored/deflate decode with CRC verification),
   * `orc_tail(...)` (ORC postscript/footer census — rows, stripes,
   * types, codec; none/zlib/snappy footers decoded),
   * `sitemap_items(...)` (sitemaps.org urlset/sitemapindex records
   * with XML-unescaped loc — the discovery half of robots_rules),
   * `targz_entries(...)` (.tar.gz shard census — gzip member locator
   * extraction + checksum-verified ustar/PAX walk),
   * `tfrecords(...)` (TFRecord shard census — masked-CRC32C-verified
   * record walk, zero example decode),
   * `xz_blocks(...)` (XZ stream/block census — CRC-verified
   * footer/index/header walk, zero LZMA2 decode),
   * `csv_sniff(...)` (CSV dialect census — deterministic delimiter/
   * quote/header/newline detection with whole-document shape
   * consistency), `csv_sniff_bytes(...)` (its byte-level form —
   * BOM/charset detection first, then the dialect walk),
   * `parquet_chunks(...)` (per-column-chunk ColumnMetaData census —
   * codec/encodings/statistics, the scan-pruning metadata),
   * `warcgz_records([file:file_name, col:content])` (.warc.gz record
   * extraction by gzip-member locator — the Common Crawl ranged-GET
   * pattern), `tfrecords_gz(...)` (.tfrecord.gz shard census through
   * the gzip locator path), `sitemap_gz(...)` (sitemap.xml.gz census
   * through the gzip locator path), `avro_extract(...)` (Avro OCF
   * block extraction by locator — per-codec decode with CRC/sync
   * verification, string-schema record decode),
   * `avro_records(schema:"...")` (schema-driven Avro RECORD decode —
   * the full type system as native Spark columns under a declared
   * reader schema the file's writer schema must equal),
   * `orc_scalars(...)` (ORC full-scalar value decode — long/double/
   * float/boolean/string columns zipped per row from raw stripe
   * streams), `orc_temporal(...)` (ORC timestamp/date/binary/decimal
   * value decode — micros with the 2015-base and pre-1970 fix, epoch
   * days, plain decimal strings), `parquet_lists(...)` (parquet
   * nested-list value decode
   * — Dremel rep/def reassembly of single-level lists beside a flat
   * key), `delta_snapshot([table:.., name:.., col:..])` (Delta
   * Lake `_delta_log` snapshot reconstruction — live files with row
   * counts, schema and protocol projections per the public
   * transaction protocol), `delta_checkpoint(...)` (its
   * checkpoint-aware form — the checkpoint parquet decoded through
   * the repo's own page decoder, then only the post-checkpoint
   * commits applied), `iceberg_snapshot([table:.., name:..,
   * col:..])` (Iceberg manifest-chain census — metadata JSON →
   * current snapshot → Avro manifest list → manifests → live data
   * files, every locator re-validated), `hudi_timeline(...)` (Hudi
   * timeline census — instant lifecycle + completed-commit write
   * stats per the public table spec);
   * ops tooling: `key_skew(keys:"k"[, k:10])` (shuffle-key skew
   * diagnostic), `suggest_salt(keys:"k"[, target:n, max:n])` (measured
   * salt-factor advisor), `PROCESS probe, dim USING salted_join(
   * keys:"k"[, factor:auto|n, how:inner])`, and `export_tar_shards(
   * path:"...", id:doc_id, fields:"text=txt,image=jpg"[, n:16])`
   * (WebDataset tar export; yields the CRC manifest frame).
   * User extensions with the same name win. */
  val builtinExtensions: Extensions = Extensions(outputters = Map(
    "assert_eq" -> OutputterDef { (dfs, params) =>
      require(dfs.size >= 2, "assert_eq needs at least 2 dataframes")
      dfs.tail.foreach(d => graft.api.DfUtils.assertDfEq(dfs.head, d,
        checkSchema = !params.get("no_check_schema").exists(_.toBoolean),
        checkOrder = params.get("check_order").exists(_.toBoolean),
        floatDigits = params.get("digits").map(_.toInt)))
    },
    "show" -> OutputterDef { (dfs, params) =>
      dfs.foreach(_.show(params.get("n").map(_.toInt).getOrElse(10), truncate = false))
    }),
    // The curation operator library as built-in PROCESS extensions — the
    // dialect drives a full training-data pipeline without leaving SQL.
    // Single-df processors read the previous statement (or one named df);
    // column params default to (doc_id, text).
    processors = {
      import graft.functions.{Dedup, TextFunctions}
      import org.apache.spark.sql.functions.col
      def one(dfs: Seq[DataFrame], name: String): DataFrame = {
        require(dfs.size == 1, s"$name takes exactly one dataframe")
        dfs.head
      }
      def id(p: Map[String, String]) = p.getOrElse("id", "doc_id")
      def tcol(p: Map[String, String]) = p.getOrElse("col", "text")
      Map(
        "dedup_exact" -> ProcessorDef { (_, dfs, p) =>
          Dedup.exact(one(dfs, "dedup_exact"),
            p.getOrElse("keys", "text").split(",").map(_.trim).toSeq, id(p))
        },
        "drop_near_dups" -> ProcessorDef { (_, dfs, p) =>
          val d = one(dfs, "drop_near_dups")
          val pairs = Dedup.minhashNearDupPairs(d, id(p), tcol(p),
            threshold = p.get("threshold").map(_.toDouble).getOrElse(0.5))
          p.get("by") match {
            // ascending:true = smaller is better (e.g. by:cross_entropy
            // from lm_score); default keeps the LARGEST quality value
            case Some(q) => Dedup.dropNearDuplicatesBy(d, id(p), pairs, q,
              descending = !p.get("ascending").exists(_.toBoolean))
            case None => Dedup.dropNearDuplicates(d, id(p), pairs)
          }
        },
        "lm_score" -> ProcessorDef { (_, dfs, p) =>
          TextFunctions.unigramCrossEntropy(one(dfs, "lm_score"), id(p), tcol(p))
        },
        "quality_filter" -> ProcessorDef { (_, dfs, p) =>
          TextFunctions.qualityFilter(one(dfs, "quality_filter"), tcol(p),
            minTokens = p.get("min_tokens").map(_.toInt).getOrElse(5),
            maxStopwordRatio = p.get("max_stopword_ratio").map(_.toDouble).getOrElse(1.0),
            minStopwordRatio = p.get("min_stopword_ratio").map(_.toDouble).getOrElse(0.0),
            maxMeanWordLen = p.get("max_mean_word_len").map(_.toDouble).getOrElse(Double.MaxValue))
        },
        "redact_pii" -> ProcessorDef { (_, dfs, p) =>
          val d = one(dfs, "redact_pii")
          d.withColumn(tcol(p), TextFunctions.redactPii(col(tcol(p))))
        },
        "chunk_tokens" -> ProcessorDef { (_, dfs, p) =>
          TextFunctions.chunkByTokens(one(dfs, "chunk_tokens"), id(p), tcol(p),
            chunkTokens = p.getOrElse("chunk", "256").toInt,
            overlapTokens = p.get("overlap").map(_.toInt).getOrElse(0))
        },
        "decontaminate" -> ProcessorDef { (_, dfs, p) =>
          require(dfs.size == 2, "decontaminate takes (corpus, eval_set)")
          Dedup.decontaminate(dfs.head, id(p), tcol(p), dfs(1),
            p.getOrElse("eval_col", "text"),
            shingleK = p.get("k").map(_.toInt).getOrElse(5),
            threshold = p.get("threshold").map(_.toDouble).getOrElse(0.5))
        },
        "clean_text" -> ProcessorDef { (_, dfs, p) =>
          val d = one(dfs, "clean_text")
          d.withColumn(tcol(p), TextFunctions.cleanText(col(tcol(p))))
        },
        "dedup_segments" -> ProcessorDef { (_, dfs, p) =>
          Dedup.segmentDedup(one(dfs, "dedup_segments"), id(p), tcol(p),
            segmentTokens = p.getOrElse("segment", "50").toInt)
        },
        "ngram_stats" -> ProcessorDef { (_, dfs, p) =>
          TextFunctions.ngramRepetitionStats(one(dfs, "ngram_stats"),
            id(p), tcol(p), n = p.getOrElse("n", "2").toInt)
        },
        "dedup_against" -> ProcessorDef { (_, dfs, p) =>
          require(dfs.size == 2, "dedup_against takes (batch, reference)")
          Dedup.dropNearDuplicatesAgainst(dfs.head, id(p), tcol(p), dfs(1),
            p.getOrElse("ref_id", "doc_id"), p.getOrElse("ref_col", "text"),
            shingleK = p.get("k").map(_.toInt).getOrElse(3),
            threshold = p.get("threshold").map(_.toDouble).getOrElse(0.8))
        },
        "zorder" -> ProcessorDef { (_, dfs, p) =>
          graft.operators.Layout.zorderBy(one(dfs, "zorder"),
            p.getOrElse("cols", "doc_id").split(",").map(_.trim).toSeq,
            bits = p.get("bits").map(_.toInt).getOrElse(8),
            numPartitions = p.get("partitions").map(_.toInt))
        },
        "sketch_distinct" -> ProcessorDef { (_, dfs, p) =>
          val d = one(dfs, "sketch_distinct")
          val keys = p.getOrElse("keys", "source").split(",").map(_.trim).toSeq
          graft.functions.Sketches.hllMergeEstimate(
            graft.functions.Sketches.hllPartial(d, keys,
              p.getOrElse("col", "doc_id"),
              lgK = p.get("lgk").map(_.toInt).getOrElse(12)), keys)
        },
        "weighted_sample" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Sampling.weightedTake(one(dfs, "weighted_sample"),
            keyCols = p.get("by").toSeq.flatMap(_.split(",").map(_.trim)),
            idCols = id(p).split(",").map(_.trim).toSeq,
            weightCol = p.getOrElse("w", "weight"),
            n = p.getOrElse("n", "100").toInt,
            seed = p.get("seed").map(_.toLong).getOrElse(42L))
        },
        "frequent_items" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Sketches.frequentItems(one(dfs, "frequent_items"),
            keys = p.getOrElse("keys", "source").split(",").map(_.trim).toSeq,
            valueCol = p.getOrElse("col", "text"),
            k = p.getOrElse("k", "50").toInt)
        },
        "kmeans_cluster" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Similarity.clusterEmbeddings(
            one(dfs, "kmeans_cluster"), id(p),
            vecCol = p.getOrElse("col", "embedding"),
            k = p.getOrElse("k", "8").toInt,
            iterations = p.get("iters").map(_.toInt).getOrElse(3),
            sampleSize = p.get("sample").map(_.toInt).getOrElse(20000),
            seed = p.get("seed").map(_.toLong).getOrElse(42L))
        },
        "span_dedup" -> ProcessorDef { (_, dfs, p) =>
          Dedup.removeDuplicateSpans(one(dfs, "span_dedup"), id(p), tcol(p),
            spanTokens = p.get("span").map(_.toInt).getOrElse(50),
            minCount = p.get("min_count").map(_.toInt).getOrElse(2))
        },
        "compact" -> ProcessorDef { (_, dfs, p) =>
          graft.operators.Layout.compact(one(dfs, "compact"),
            targetBytes = p.get("target_mb").map(_.toLong << 20)
              .getOrElse(128L << 20),
            keyCols = p.get("by").toSeq.flatMap(_.split(",").map(_.trim)))
        },
        "line_dedup" -> ProcessorDef { (_, dfs, p) =>
          Dedup.lineDedup(one(dfs, "line_dedup"), id(p), tcol(p),
            maxDocFrequency = p.get("max_df").map(_.toInt).getOrElse(1),
            lineSep = p.getOrElse("sep", "\n"))
        },
        "bloom_line_dedup" -> ProcessorDef { (_, dfs, p) =>
          Dedup.bloomLineDedup(one(dfs, "bloom_line_dedup"), id(p), tcol(p),
            maxDocFrequency = p.get("max_df").map(_.toInt).getOrElse(1),
            lineSep = p.getOrElse("sep", "\n"),
            fpp = p.get("fpp").map(_.toDouble).getOrElse(0.01))
        },
        "quality_report" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Checks.validate(one(dfs, "quality_report"),
            graft.functions.Checks.parseRules(p.getOrElse("rules",
              throw new IllegalArgumentException(
                "quality_report needs rules:\"...\""))))
        },
        "quality_enforce" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Checks.enforce(one(dfs, "quality_enforce"),
            graft.functions.Checks.parseRules(p.getOrElse("rules",
              throw new IllegalArgumentException(
                "quality_enforce needs rules:\"...\""))))
        },
        "zscore_outliers" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Outliers.zscoreOutliers(one(dfs, "zscore_outliers"),
            groupCols = p.get("by").toSeq.flatMap(_.split(",").map(_.trim)),
            valueCol = p.getOrElse("col", "value"),
            threshold = p.get("threshold").map(_.toDouble).getOrElse(3.0))
        },
        "mad_outliers" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Outliers.madOutliers(one(dfs, "mad_outliers"),
            groupCols = p.get("by").toSeq.flatMap(_.split(",").map(_.trim)),
            valueCol = p.getOrElse("col", "value"),
            threshold = p.get("threshold").map(_.toDouble).getOrElse(3.5))
        },
        "winsorize" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Outliers.winsorize(one(dfs, "winsorize"),
            groupCols = p.get("by").toSeq.flatMap(_.split(",").map(_.trim)),
            valueCol = p.getOrElse("col", "value"),
            lo = p.get("lo").map(_.toDouble).getOrElse(0.01),
            hi = p.get("hi").map(_.toDouble).getOrElse(0.99),
            approx = p.get("approx").exists(_.toBoolean))
        },
        "histogram" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Stats.histogram(one(dfs, "histogram"),
            c = p.getOrElse("col", "value"),
            bins = p.get("bins").map(_.toInt).getOrElse(20))
        },
        "corr_matrix" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Stats.correlationMatrix(one(dfs, "corr_matrix"),
            p.getOrElse("cols",
              throw new IllegalArgumentException("corr_matrix needs cols:\"a,b,...\""))
              .split(",").map(_.trim).toSeq)
        },
        "ann_join" -> ProcessorDef { (_, dfs, p) =>
          require(dfs.size == 2, "ann_join takes (left, right)")
          graft.functions.Similarity.annJoin(dfs.head, dfs(1),
            idCol = p.getOrElse("id", "vec_id"),
            vecCol = p.getOrElse("col", "embedding"),
            k = p.getOrElse("k", "5").toInt,
            nTables = p.get("tables").map(_.toInt).getOrElse(8),
            nBits = p.get("bits").map(_.toInt).getOrElse(12),
            seed = p.get("seed").map(_.toLong).getOrElse(42L),
            probes = p.get("probes").map(_.toInt).getOrElse(2),
            excludeSameId = p.get("exclude_same_id").exists(_.toBoolean))
        },
        "export_shards" -> ProcessorDef { (eng, dfs, p) =>
          val manifest = graft.operators.Layout.exportShards(
            one(dfs, "export_shards"),
            path = p.getOrElse("path",
              throw new IllegalArgumentException("export_shards needs path:\"...\"")),
            nShards = p.getOrElse("n", "16").toInt,
            keyCols = p.get("keys").toSeq.flatMap(_.split(",").map(_.trim)))
          eng.toDF(manifest.map(t => Seq(t._1.toLong, t._2, t._3)),
            "shard:long,rows:long,checksum:str")
        },
        "key_skew" -> ProcessorDef { (_, dfs, p) =>
          graft.api.DfUtils.keySkew(one(dfs, "key_skew"),
            keys = p.getOrElse("keys",
              throw new IllegalArgumentException("key_skew needs keys:\"...\""))
              .split(",").map(_.trim).toSeq,
            topK = p.getOrElse("k", "10").toInt)
        },
        // media ops over binary columns (id:doc_id, col:payload defaults)
        "media_census" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Multimodal.mediaCensus(one(dfs, "media_census"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "payload"))
        },
        "demux_frames" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Multimodal.demuxFrames(one(dfs, "demux_frames"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "payload"),
            stride = p.getOrElse("stride", "1").toInt,
            frameSize = p.getOrElse("frame_size", "1024").toInt)
        },
        "mp4_demux" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Mp4.demuxMp4Frames(one(dfs, "mp4_demux"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "payload"))
        },
        "mp3_frames" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Mp3.mp3Frames(one(dfs, "mp3_frames"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "payload"))
        },
        "ogg_pages" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Ogg.oggPages(one(dfs, "ogg_pages"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "payload"))
        },
        "ogg_packets" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Ogg.oggPackets(one(dfs, "ogg_packets"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "payload"))
        },
        "ogg_audio_meta" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Ogg.oggAudioMeta(one(dfs, "ogg_audio_meta"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "payload"))
        },
        "ogg_comments" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Ogg.oggComments(one(dfs, "ogg_comments"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "payload"))
        },
        "id3_tags" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Mp3.id3TextFrames(one(dfs, "id3_tags"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "payload"))
        },
        "flac_info" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Flac.flacInfo(one(dfs, "flac_info"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "payload"))
        },
        "flac_comments" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Flac.flacComments(one(dfs, "flac_comments"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "payload"))
        },
        "mp4_tags" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Mp4.ilstTags(one(dfs, "mp4_tags"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "payload"))
        },
        "riff_tags" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Riff.riffInfoTags(one(dfs, "riff_tags"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "payload"))
        },
        "image_meta" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Imaging.imageMeta(one(dfs, "image_meta"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "payload"))
        },
        "mkv_tracks" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Ebml.mkvTracks(one(dfs, "mkv_tracks"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "payload"))
        },
        "zip_entries" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Zip.zipEntries(one(dfs, "zip_entries"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "payload"))
        },
        "zstd_frames" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Zstd.zstdFrames(one(dfs, "zstd_frames"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "payload"))
        },
        "url_canon" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Urls.canonicalizeUrls(one(dfs, "url_canon"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "url"))
        },
        "id3v1_tags" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Mp3.id3v1Tags(one(dfs, "id3v1_tags"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "payload"))
        },
        "subtitle_cues" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Subtitles.subtitleCues(one(dfs, "subtitle_cues"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "text"))
        },
        "gzip_members" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Gzip.gzipMembers(one(dfs, "gzip_members"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "payload"))
        },
        "avro_blocks" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Avro.avroBlocks(one(dfs, "avro_blocks"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "payload"))
        },
        "png_text" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Png.pngTextChunks(one(dfs, "png_text"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "payload"))
        },
        "robots_rules" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Robots.robotsRules(one(dfs, "robots_rules"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "text"))
        },
        "eml_headers" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Eml.emailHeaders(one(dfs, "eml_headers"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "text"))
        },
        "json_shape" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Json.jsonShape(one(dfs, "json_shape"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "text"))
        },
        "parquet_footer" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.ParquetFooter.parquetFooters(
            one(dfs, "parquet_footer"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "payload"))
        },
        "exif_gps" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Imaging.exifMeta(one(dfs, "exif_gps"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "payload"))
        },
        "mime_parts" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Mime.mimeParts(one(dfs, "mime_parts"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "text"))
        },
        "zip_extract" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Zip.extractEntries(one(dfs, "zip_extract"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "payload"))
        },
        "orc_tail" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Orc.orcTails(one(dfs, "orc_tail"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "payload"))
        },
        "sitemap_items" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Sitemap.sitemapItems(one(dfs, "sitemap_items"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "text"))
        },
        "targz_entries" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Tar.tarGzEntries(one(dfs, "targz_entries"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "payload"))
        },
        "tfrecords" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.TfRecord.tfRecords(one(dfs, "tfrecords"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "payload"))
        },
        "xz_blocks" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Xz.xzBlocks(one(dfs, "xz_blocks"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "payload"))
        },
        "csv_sniff" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Csv.csvSniff(one(dfs, "csv_sniff"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "text"))
        },
        "parquet_chunks" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.ParquetFooter.parquetColumnChunks(
            one(dfs, "parquet_chunks"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "payload"))
        },
        "warcgz_records" -> ProcessorDef { (_, dfs, p) =>
          graft.sources.Warc.locateWarcGzRecords(one(dfs, "warcgz_records"),
            p.getOrElse("file", "file_name"), p.getOrElse("col", "content"))
        },
        "tfrecords_gz" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.TfRecord.tfRecordsGz(one(dfs, "tfrecords_gz"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "payload"))
        },
        "sitemap_gz" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Sitemap.sitemapGzItems(one(dfs, "sitemap_gz"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "payload"))
        },
        "csv_sniff_bytes" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Csv.csvSniffBytes(one(dfs, "csv_sniff_bytes"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "payload"))
        },
        "avro_extract" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Avro.extractStringRecords(one(dfs, "avro_extract"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "payload"))
        },
        // parquet data-page value decode (m50): one INT64 + one
        // BYTE_ARRAY leaf zipped per row through the page-skip read
        "parquet_decode" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.ParquetFooter.parquetDecodeLongStr(
            one(dfs, "parquet_decode"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "payload"),
            p.getOrElse("long", "doc_id"), p.getOrElse("str", "text"))
        },
        // ORC stripe-footer census (m51): stream layout + encodings
        "orc_stripes" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Orc.orcStripeFooters(one(dfs, "orc_stripes"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "payload"))
        },
        // ORC data-stream value decode (m53): one LONG + one STRING
        // column zipped per row through the stripe-stream read
        "orc_decode" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Orc.orcDecodeLongStr(one(dfs, "orc_decode"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "payload"),
            p.getOrElse("long", "doc_id"), p.getOrElse("str", "text"))
        },
        // schema-driven Avro record decode (m54): full-type-system
        // rows under the declared reader schema (`schema:` param —
        // REQUIRED, the reader-schema contract is explicit)
        "avro_records" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.AvroRecord.decodeRecords(one(dfs, "avro_records"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "payload"),
            p.getOrElse("schema", sys.error(
              "avro_records requires schema:\"<reader schema json>\"")))
        },
        // parquet MAP value decode (m62)
        "parquet_maps" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.ParquetFooter.parquetDecodeMap(
            one(dfs, "parquet_maps"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "payload"),
            p.getOrElse("long", "doc_id"),
            p.getOrElse("key", "m.key_value.key"),
            p.getOrElse("value", "m.key_value.value"))
        },
        // ORC list value decode (m64)
        "orc_lists" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Orc.orcDecodeLists(one(dfs, "orc_lists"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "payload"),
            p.getOrElse("long", "doc_id"), p.getOrElse("nums", "nums"),
            p.getOrElse("tags", "tags"))
        },
        // ORC temporal/decimal/binary value decode (m61)
        "orc_temporal" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Orc.orcDecodeTemporal(one(dfs, "orc_temporal"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "payload"),
            p.getOrElse("long", "doc_id"), p.getOrElse("ts", "ts"),
            p.getOrElse("date", "d"), p.getOrElse("bin", "bin"),
            p.getOrElse("dec", "dec"))
        },
        // parquet nested-list value decode (m57): one flat INT64 +
        // one INT64 list + one BYTE_ARRAY list, Dremel-assembled
        "parquet_lists" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.ParquetFooter.parquetDecodeLists(
            one(dfs, "parquet_lists"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "payload"),
            p.getOrElse("long", "doc_id"),
            p.getOrElse("nums", "nums.list.element"),
            p.getOrElse("tags", "tags.list.element"))
        },
        // ORC full-scalar value decode (m55): one column per scalar
        // family zipped per row through the stripe-stream read
        "orc_scalars" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Orc.orcDecodeScalars(one(dfs, "orc_scalars"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "payload"),
            p.getOrElse("long", "doc_id"), p.getOrElse("dbl", "score"),
            p.getOrElse("flt", "ratio"), p.getOrElse("bool", "ok"),
            p.getOrElse("str", "text"))
        },
        // Delta `_delta_log` snapshot reconstruction (m56)
        "delta_snapshot" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.DeltaLog.deltaSnapshot(one(dfs, "delta_snapshot"),
            p.getOrElse("table", "table_id"), p.getOrElse("name", "file_name"),
            p.getOrElse("col", "content"))
        },
        // Delta checkpoint + log-tail reconstruction (m59)
        "delta_checkpoint" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.DeltaLog.deltaSnapshotCheckpointed(
            one(dfs, "delta_checkpoint"),
            p.getOrElse("table", "table_id"), p.getOrElse("name", "file_name"),
            p.getOrElse("col", "payload"))
        },
        // Iceberg manifest-chain census (m58)
        "iceberg_snapshot" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Iceberg.icebergSnapshot(one(dfs, "iceberg_snapshot"),
            p.getOrElse("table", "table_id"), p.getOrElse("name", "file_name"),
            p.getOrElse("col", "payload"))
        },
        // Hudi timeline census (m63)
        "hudi_timeline" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Hudi.hudiTimeline(one(dfs, "hudi_timeline"),
            p.getOrElse("table", "table_id"), p.getOrElse("name", "file_name"),
            p.getOrElse("col", "content"))
        },
        // MKV Cues census + locator replay (m52)
        "mkv_cues" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Ebml.mkvCues(one(dfs, "mkv_cues"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "payload"))
        },
        // MKV frame extraction at the cue locators (m60)
        "mkv_frames" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Ebml.mkvFrames(one(dfs, "mkv_frames"),
            p.getOrElse("id", "doc_id"), p.getOrElse("col", "payload"))
        },
        // hybrid-retrieval fusion: PROCESS lexical, dense USING
        // rrf_fuse(...) — any number of ranked (query, rank, id) lists
        "rrf_fuse" -> ProcessorDef { (_, dfs, p) =>
          require(dfs.nonEmpty, "rrf_fuse needs at least one ranked list")
          graft.functions.Similarity.rrfFuse(dfs,
            p.getOrElse("query", "query_id"), p.getOrElse("id", "doc_id"),
            p.getOrElse("rank", "rank"), p.getOrElse("k", "60").toInt,
            p.getOrElse("top", "10").toInt)
        },
        // bitext mining: PROCESS src, tgt USING margin_mine(...);
        // approx:"true" routes both kNN directions through annJoin
        // (LSH-bucketed, neither side broadcast — the corpus-scale path)
        "margin_mine" -> ProcessorDef { (_, dfs, p) =>
          require(dfs.length == 2,
            s"margin_mine needs exactly (src, tgt), got ${dfs.length}")
          graft.functions.Similarity.marginMine(dfs(0), dfs(1),
            p.getOrElse("id", "vec_id"), p.getOrElse("col", "embedding"),
            p.getOrElse("k", "4").toInt,
            p.getOrElse("min", "0.0").toDouble,
            approx = p.getOrElse("approx", "false").toBoolean,
            nTables = p.getOrElse("tables", "8").toInt,
            nBits = p.getOrElse("bits", "12").toInt,
            seed = p.getOrElse("seed", "42").toLong,
            probes = p.getOrElse("probes", "2").toInt)
        },
        // the keySkew diagnostic's prescriptive sibling: one row with the
        // measured salt factor for salted_join (1 = don't salt)
        "suggest_salt" -> ProcessorDef { (eng, dfs, p) =>
          val f = graft.operators.SkewJoin.suggestSalt(
            one(dfs, "suggest_salt"),
            keys = p.getOrElse("keys",
              throw new IllegalArgumentException("suggest_salt needs keys:\"...\""))
              .split(",").map(_.trim).toSeq,
            targetRowsPerTask = p.getOrElse("target", "2000000").toLong,
            maxFactor = p.getOrElse("max", "256").toInt)
          eng.toDF(Seq(Seq(f.toLong)), "salt_factor:long")
        },
        // PROCESS probe, dim USING salted_join(keys:"k"[, factor:auto]):
        // factor "auto" measures the probe histogram via suggestSalt
        "salted_join" -> ProcessorDef { (_, dfs, p) =>
          require(dfs.size == 2, "salted_join takes (probe, dim)")
          val keys = p.getOrElse("keys",
            throw new IllegalArgumentException("salted_join needs keys:\"...\""))
            .split(",").map(_.trim).toSeq
          val f = p.getOrElse("factor", "auto") match {
            case "auto" => graft.operators.SkewJoin.suggestSalt(dfs.head, keys,
              targetRowsPerTask = p.getOrElse("target", "2000000").toLong,
              maxFactor = p.getOrElse("max", "256").toInt)
            case n => n.toInt
          }
          graft.operators.SkewJoin.saltedJoin(dfs.head, dfs(1), keys,
            how = p.getOrElse("how", "inner"), factor = f)
        },
        "export_tar_shards" -> ProcessorDef { (eng, dfs, p) =>
          // fields:"txt=txt,image=jpg" maps columns to entry extensions
          val fields = p.getOrElse("fields",
            throw new IllegalArgumentException(
              "export_tar_shards needs fields:\"col=ext,...\""))
            .split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { kv =>
              kv.split("=") match {
                case Array(c, e) => (c.trim, e.trim)
                case _ => throw new IllegalArgumentException(
                  s"bad field mapping '$kv' (want col=ext)")
              }
            }
          val manifest = graft.operators.Layout.exportTarShards(
            one(dfs, "export_tar_shards"),
            path = p.getOrElse("path",
              throw new IllegalArgumentException("export_tar_shards needs path:\"...\"")),
            idCol = p.getOrElse("id", "doc_id"),
            fields = fields,
            nShards = p.getOrElse("n", "16").toInt)
          eng.toDF(manifest.map(t => Seq(t._1.toLong, t._2, t._3, t._4)),
            "shard:long,samples:long,entries:long,crc:str")
        },
        "snapshot_diff" -> ProcessorDef { (_, dfs, p) =>
          require(dfs.size == 2, "snapshot_diff takes (before, after)")
          graft.operators.Diff.snapshotDiff(dfs.head, dfs(1),
            keys = p.getOrElse("keys",
              throw new IllegalArgumentException(
                "snapshot_diff needs keys:\"...\""))
              .split(",").map(_.trim).toSeq,
            hashOnly = p.get("hash").exists(_.toBoolean),
            includeUnchanged = p.get("unchanged").exists(_.toBoolean))
        },
        "pca" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Pca.fitTransform(one(dfs, "pca"), id(p),
            vecCol = p.getOrElse("col", "embedding"),
            k = p.getOrElse("k", "8").toInt,
            outCol = p.getOrElse("out", "pca"),
            whiten = p.get("whiten").exists(_.toBoolean))._1
        },
        "select_by_budget" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Sampling.selectByBudget(one(dfs, "select_by_budget"),
            sizeCol = org.apache.spark.sql.functions.col(
              p.getOrElse("size", "n_tokens")),
            rankCol = p.getOrElse("rank", "score"),
            idCols = id(p).split(",").map(_.trim).toSeq,
            budget = p.getOrElse("budget",
              throw new IllegalArgumentException(
                "select_by_budget needs budget:<tokens>")).toLong,
            descending = !p.get("ascending").exists(_.toBoolean))
        },
        "overlap_estimate" -> ProcessorDef { (_, dfs, p) =>
          require(dfs.size == 2, "overlap_estimate takes (corpus_a, corpus_b)")
          graft.functions.Sketches.overlapEstimate(dfs.head, dfs(1),
            valueCol = p.getOrElse("col", "text"),
            lgK = p.get("lgk").map(_.toInt).getOrElse(12))
        },
        "psi_drift" -> ProcessorDef { (_, dfs, p) =>
          require(dfs.size == 2, "psi_drift takes (before, after)")
          graft.functions.Stats.populationStability(dfs.head, dfs(1),
            c = p.getOrElse("col", "value"),
            bins = p.get("bins").map(_.toInt).getOrElse(10),
            eps = p.get("eps").map(_.toDouble).getOrElse(1e-6))
        },
        "cat_drift" -> ProcessorDef { (_, dfs, p) =>
          require(dfs.size == 2, "cat_drift takes (before, after)")
          graft.functions.Stats.categoricalDrift(dfs.head, dfs(1),
            c = p.getOrElse("col", "lang"),
            eps = p.get("eps").map(_.toDouble).getOrElse(1e-6))
        },
        "page_rank" -> ProcessorDef { (_, dfs, p) =>
          graft.operators.Graph.pageRank(one(dfs, "page_rank"),
            srcCol = p.getOrElse("src", "src"),
            dstCol = p.getOrElse("dst", "dst"),
            iterations = p.get("iters").map(_.toInt).getOrElse(10),
            damping = p.get("damping").map(_.toDouble).getOrElse(0.85),
            weightCol = p.get("w"))
        },
        "quantize_int8" -> ProcessorDef { (_, dfs, p) =>
          val d = one(dfs, "quantize_int8")
          val c = p.getOrElse("col", "embedding")
          d.withColumn(p.getOrElse("out", "q"),
            graft.functions.Similarity.quantizeInt8(
              org.apache.spark.sql.functions.col(c)))
        },
        "bm25" -> ProcessorDef { (_, dfs, p) =>
          require(dfs.size == 2, "bm25 takes (corpus, queries)")
          TextFunctions.bm25TopK(dfs.head, id(p), tcol(p),
            dfs(1),
            queryIdCol = p.getOrElse("qid", "query_id"),
            queryTextCol = p.getOrElse("qcol", "qtext"),
            topK = p.getOrElse("k", "10").toInt,
            k1 = p.get("k1").map(_.toDouble).getOrElse(1.2),
            b = p.get("b").map(_.toDouble).getOrElse(0.75),
            scoreDigits = p.get("digits").map(_.toInt),
            maxDfFraction = p.get("max_df").map(_.toDouble).getOrElse(1.0))
        },
        "containment_pairs" -> ProcessorDef { (_, dfs, p) =>
          Dedup.containmentPairs(one(dfs, "containment_pairs"), id(p), tcol(p),
            shingleK = p.get("k").map(_.toInt).getOrElse(3),
            threshold = p.get("threshold").map(_.toDouble).getOrElse(0.8),
            maxShingleDf = p.get("max_df").map(_.toInt).getOrElse(Int.MaxValue))
        },
        "gap_fill" -> ProcessorDef { (_, dfs, p) =>
          graft.operators.TemporalOps.gapFill(one(dfs, "gap_fill"),
            tsCol = p.getOrElse("ts", "ts"),
            valueCol = p.getOrElse("col", "value"),
            stepSeconds = p.getOrElse("step",
              throw new IllegalArgumentException(
                "gap_fill needs step:<seconds>")).toLong,
            groupCols = p.getOrElse("keys",
              throw new IllegalArgumentException(
                "gap_fill needs keys:\"a,b,...\""))
              .split(",").map(_.trim).toSeq,
            method = p.getOrElse("method", "linear"))
        },
        "trigram_score" -> ProcessorDef { (_, dfs, p) =>
          TextFunctions.trigramCrossEntropy(one(dfs, "trigram_score"),
            id(p), tcol(p),
            lambda3 = p.get("l3").map(_.toDouble).getOrElse(0.7),
            lambda2 = p.get("l2").map(_.toDouble).getOrElse(0.2),
            digits = p.get("digits").map(_.toInt).getOrElse(9))
        },
        "label_propagation" -> ProcessorDef { (_, dfs, p) =>
          graft.operators.Graph.labelPropagation(one(dfs, "label_propagation"),
            srcCol = p.getOrElse("src", "src"),
            dstCol = p.getOrElse("dst", "dst"),
            iterations = p.get("iters").map(_.toInt).getOrElse(5),
            weightCol = p.get("w"))
        },
        "degrees" -> ProcessorDef { (_, dfs, p) =>
          graft.operators.Graph.degreeStats(one(dfs, "degrees"),
            srcCol = p.getOrElse("src", "src"),
            dstCol = p.getOrElse("dst", "dst"))
        },
        "triangles" -> ProcessorDef { (_, dfs, p) =>
          graft.operators.Graph.triangleCount(one(dfs, "triangles"),
            srcCol = p.getOrElse("src", "src"),
            dstCol = p.getOrElse("dst", "dst"))
        },
        "clustering_coeff" -> ProcessorDef { (_, dfs, p) =>
          graft.operators.Graph.clusteringCoefficient(
            one(dfs, "clustering_coeff"),
            srcCol = p.getOrElse("src", "src"),
            dstCol = p.getOrElse("dst", "dst"))
        },
        "connected_components" -> ProcessorDef { (_, dfs, p) =>
          graft.operators.Graph.connectedComponents(
            one(dfs, "connected_components"),
            srcCol = p.getOrElse("src", "src"),
            dstCol = p.getOrElse("dst", "dst"),
            maxIterations = p.get("max_iters").map(_.toInt).getOrElse(30))
        },
        "ppr" -> ProcessorDef { (_, dfs, p) =>
          require(dfs.size == 2, "ppr takes (edges, seeds)")
          graft.operators.Graph.personalizedPageRank(dfs.head,
            srcCol = p.getOrElse("src", "src"),
            dstCol = p.getOrElse("dst", "dst"),
            seeds = dfs(1),
            iterations = p.get("iters").map(_.toInt).getOrElse(10),
            damping = p.get("damping").map(_.toDouble).getOrElse(0.85),
            weightCol = p.get("w"))
        },
        "link_graph" -> ProcessorDef { (_, dfs, p) =>
          TextFunctions.linkGraph(one(dfs, "link_graph"),
            srcHostCol = p.getOrElse("host", "host"),
            textCol = tcol(p))
        },
        "merge_intervals" -> ProcessorDef { (_, dfs, p) =>
          graft.operators.TemporalOps.mergeIntervals(
            one(dfs, "merge_intervals"),
            keyCols = p.getOrElse("keys",
              throw new IllegalArgumentException(
                "merge_intervals needs keys:\"a,b,...\""))
              .split(",").map(_.trim).toSeq,
            startCol = p.getOrElse("start", "start"),
            endCol = p.getOrElse("end", "end"),
            validate = !p.get("skip_validate").exists(_.toBoolean))
        },
        "rank_normalize" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Sampling.rankNormalize(one(dfs, "rank_normalize"),
            valueCol = p.getOrElse("col", "score"),
            tieBreakCols = id(p).split(",").map(_.trim).toSeq,
            outCol = p.getOrElse("out", "quantile"),
            descending = p.get("descending").exists(_.toBoolean))
        },
        "ks_drift" -> ProcessorDef { (_, dfs, p) =>
          require(dfs.size == 2, "ks_drift takes (before, after)")
          graft.functions.Stats.ksTest(dfs.head, dfs(1),
            c = p.getOrElse("col", "value"),
            bins = p.get("bins").map(_.toInt).getOrElse(200))
        },
        "funnel" -> ProcessorDef { (_, dfs, p) =>
          graft.operators.TemporalOps.funnel(one(dfs, "funnel"),
            userCol = p.getOrElse("user", "user_id"),
            tsCol = p.getOrElse("ts", "ts"),
            eventCol = p.getOrElse("event", "event_type"),
            steps = p.getOrElse("steps",
              throw new IllegalArgumentException("funnel needs steps:\"a,b,...\""))
              .split(",").map(_.trim).toSeq,
            windowSeconds = p.getOrElse("window",
              throw new IllegalArgumentException(
                "funnel needs window:<seconds>")).toLong,
            restart = p.get("restart").exists(_.toBoolean))
        },
        "retention" -> ProcessorDef { (_, dfs, p) =>
          graft.operators.TemporalOps.retention(one(dfs, "retention"),
            userCol = p.getOrElse("user", "user_id"),
            tsCol = p.getOrElse("ts", "ts"),
            periodSeconds = p.getOrElse("period",
              throw new IllegalArgumentException(
                "retention needs period:<seconds>")).toLong)
        },
        "spearman" -> ProcessorDef { (_, dfs, p) =>
          graft.functions.Stats.spearmanMatrix(one(dfs, "spearman"),
            p.getOrElse("cols",
              throw new IllegalArgumentException("spearman needs cols:\"a,b,...\""))
              .split(",").map(_.trim).toSeq)
        },
        "gopher_rules" -> ProcessorDef { (_, dfs, p) =>
          TextFunctions.gopherRules(one(dfs, "gopher_rules"), id(p), tcol(p),
            minWords = p.get("min_words").map(_.toInt).getOrElse(50),
            maxWords = p.get("max_words").map(_.toInt).getOrElse(100000))
        },
        "c4_clean" -> ProcessorDef { (_, dfs, p) =>
          TextFunctions.c4Clean(one(dfs, "c4_clean"), id(p), tcol(p),
            minLineWords = p.get("min_line_words").map(_.toInt).getOrElse(3),
            minSentences = p.get("min_sentences").map(_.toInt).getOrElse(3))
        })
    })

  private def withBuiltins(e: Extensions): Extensions =
    e.copy(outputters = builtinExtensions.outputters ++ e.outputters,
      processors = builtinExtensions.processors ++ e.processors)

  def run(engine: GraftEngine, sql: String,
      inputs: Map[String, DataFrame] = Map.empty,
      transformers: Map[String, TransformerDef] = Map.empty,
      vars: Map[String, Any] = Map.empty): Result =
    new Compiler(engine, inputs, withBuiltins(Extensions(transformers = transformers)))
      .run(Template.render(sql, vars))

  def runWith(engine: GraftEngine, sql: String,
      inputs: Map[String, DataFrame] = Map.empty,
      extensions: Extensions = Extensions(),
      vars: Map[String, Any] = Map.empty): Result =
    new Compiler(engine, inputs, withBuiltins(extensions)).run(Template.render(sql, vars))

  /** Render the script's template constructs (the reference feeds FugueSQL
   * through jinja2, fugue/sql/_utils.py) — `{{ expr }}`, `{% if %}`,
   * `{% for %}`, `{% raw %}`, filters; see [[Template]]. Values are
   * inserted verbatim (single pass — never re-scanned); rendering an
   * undefined variable raises. */
  def substituteVars(script: String, vars: Map[String, Any]): String =
    Template.render(script, vars)

  private val KeywordStart =
    ("^(?i)(LOAD|SAVE|SELECT|WITH|CREATE|ZIP|TAKE|SAMPLE|DROPNA|FILLNA|RENAME|ALTER|DROP|" +
      "DISTINCT|TRANSFORM|COTRANSFORM|OUTTRANSFORM|PROCESS|SUB|OUTPUT|PRINT|PERSIST|BROADCAST|" +
      "WEAK|STRONG|DETERMINISTIC|CHECKPOINT|YIELD|CONNECT)\\b").r
  // DOTALL: an assignment statement may span lines (`a = SELECT ... UNION
  // ALL\nSELECT ...`) — without (?s) the full-match extractor silently
  // fails on any multi-line RHS and the statement misparses as a keyword
  private val Assign = "(?s)^\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*:?=\\s*(.*)$".r
  private val SetOpEnd =
    "(?i)\\b(UNION(\\s+ALL|\\s+DISTINCT)?|INTERSECT(\\s+ALL)?|EXCEPT(\\s+ALL)?|MINUS)\\s*$".r

  /** Split a script into statements: a statement starts at a line whose
   * first token is a dataflow keyword or an assignment; continuation lines
   * attach to the current statement. Comments are removed. */
  def splitStatements(script: String): Seq[String] = {
    val s = lex(script)
    val out = mutable.ArrayBuffer.empty[StringBuilder]
    var lastLine = "" // code of the last non-empty line
    var at = 0
    s.text.split("\n", -1).foreach { line =>
      val t = line.trim
      if (t.nonEmpty) {
        // a line that starts inside a quoted string or an unbalanced paren
        // (a subquery spanning lines) always continues the current
        // statement, even if it starts with a keyword; an assignment only
        // starts a statement when its RHS is a dialect keyword — `x = 5`
        // inside a WHERE clause is NOT a statement
        val nested = out.nonEmpty && (s.quoted(at) || s.depth(at) > 0)
        // a dangling `name =` line absorbs the following statement line
        // (the multi-line assignment form `x =\n  SELECT ...`)
        val pendingAssign = out.nonEmpty && !nested && (out.last.toString match {
          case Assign(_, rest) => rest.trim.isEmpty
          case _ => false
        })
        // a SELECT/WITH line directly after a dangling set-op connector
        // (UNION [ALL]/INTERSECT/EXCEPT at the end of the current
        // statement) CONTINUES that statement — splitting there would
        // break a multi-line compound query into two invalid halves
        val setOpCont = out.nonEmpty && !nested &&
          SetOpEnd.findFirstIn(lastLine.trim).isDefined &&
          "^(?i)(SELECT|WITH|\\()".r.findFirstIn(t).isDefined
        val starts = !nested && !pendingAssign && !setOpCont && ((t match {
          case Assign(_, rest) =>
            rest.trim.isEmpty || KeywordStart.findFirstIn(rest.trim).isDefined
          case _ => false
        }) || KeywordStart.findFirstIn(t).isDefined)
        if (starts || out.isEmpty) out += new StringBuilder(t)
        // space, not bare concat: `q =` + `SELECT …` must not fuse into
        // `q =SELECT …` (parses today, but leaves a token-boundary trap)
        else if (pendingAssign) { out.last += ' '; out.last ++= t }
        else { out.last += '\n'; out.last ++= t }
        lastLine = s.code.substring(at, at + line.length)
      }
      at += line.length + 1
    }
    out.map(_.toString).toSeq
  }

  /** Text read under the dialect's lexical rule by [[lex]]. `text` is the
   * input with comments blanked; `code` is `text` with the content of every
   * quoted string masked, so a grammar regex matches on `code` and reads
   * its value from `text` at the same offsets. `depth(i)` is the paren
   * depth before char i; `quoted(i)` is true inside a quoted string. */
  private final class Lexed(val text: String, val code: String,
      val depth: Array[Int], val quoted: Array[Boolean]) {
    /** `code` with every paren group blanked. */
    lazy val top: String =
      code.indices.map(i => if (depth(i) > 0 || code(i) == '(') ' ' else code(i)).mkString
    /** Offsets of `c` outside quotes and parens. */
    def topIndices(c: Char): Seq[Int] = code.indices.filter(i => code(i) == c && depth(i) == 0)
    /** Offset just past the paren group that opens at `i`; -1 if unclosed. */
    def groupEnd(i: Int): Int =
      (i + 1 until code.length).find(j => code(j) == ')' && depth(j) == depth(i) + 1).fold(-1)(_ + 1)
    /** `text` cut at every `sep` outside quotes and parens, trimmed, empty
     * parts dropped. */
    def split(sep: Char): Seq[String] = {
      val cuts = -1 +: topIndices(sep) :+ text.length
      cuts.zip(cuts.tail).map { case (a, b) => text.substring(a + 1, b).trim }.filter(_.nonEmpty)
    }
    /** The first match of `r` on `code` that starts outside parens. */
    def find(r: Regex): Option[Regex.Match] = r.findAllMatchIn(code).find(m => depth(m.start) == 0)
    def has(kw: String): Boolean = find(s"(?i)\\b$kw\\b".r).isDefined
    /** The text of group `g` of a match on `code`. */
    def at(m: Regex.Match, g: Int): String = text.substring(m.start(g), m.end(g))
    def take(n: Int): Lexed = new Lexed(text.take(n), code.take(n), depth.take(n + 1), quoted.take(n))
  }

  /** The dialect's one lexical rule, and the one pass that applies it:
   * `'…'`, `"…"` and `` `…` `` are opaque (a doubled delimiter stays
   * inside; in `'…'` and `"…"` a backslash escapes the next char, as in
   * Spark SQL), `--` outside them comments out the rest of the line, and
   * parens count only outside both (a stray `)` does not go below 0). */
  private def lex(s: String): Lexed = {
    val text = s.toCharArray
    val code = s.toCharArray
    val depth = new Array[Int](s.length + 1)
    val quoted = new Array[Boolean](s.length)
    var q = '\u0000' // delimiter of the open quote
    var d = 0
    var i = 0
    while (i < s.length) {
      depth(i) = d
      val c = s(i)
      if (q != '\u0000') {
        quoted(i) = true
        if (c == q && !s.startsWith(q.toString, i + 1)) q = '\u0000'
        else {
          code(i) = '_'
          // a doubled delimiter or an escape: the next char is content too
          if ((c == q || (c == '\\' && q != '`')) && i + 1 < s.length) {
            i += 1; depth(i) = d; quoted(i) = true; code(i) = '_'
          }
        }
      } else if (c == '\'' || c == '"' || c == '`') q = c
      else if (c == '-' && s.startsWith("-", i + 1)) {
        while (i + 1 < s.length && s(i + 1) != '\n') { text(i) = ' '; code(i) = ' '; i += 1; depth(i) = d }
        text(i) = ' '; code(i) = ' '
      } else if (c == '(') d += 1
      else if (c == ')') d = math.max(0, d - 1)
      i += 1
    }
    depth(s.length) = d
    new Lexed(new String(text), new String(code), depth, quoted)
  }

  /** A quoted value or name without its quotes; anything else as is. */
  private def unquote(t: String): String =
    if (t.length >= 2 && "'\"`".contains(t.head) && t.last == t.head)
      t.substring(1, t.length - 1).replace(t.head.toString * 2, t.head.toString)
    else t

  /** Compiles a script into one [[Workflow]] and runs it. Each statement
   * builds its nodes inside `w.statement`, keyed by its ordinal and
   * text: identical statements are not memoized into one, and
   * an argument error raised while a node runs names its statement. */
  private final class Compiler(
      engine: GraftEngine,
      inputs: Map[String, DataFrame],
      extensions: Extensions) {
    private def transformers = extensions.transformers

    private val w = new Workflow(engine)
    private type Node = w.Node
    private val frames = mutable.LinkedHashMap.empty[String, Node]
    inputs.foreach { case (name, d) => frames(name) = w.df(d, name) }
    private var last: Option[Node] = None
    private var ordinal = 0
    // (channel, handler, messages-already-delivered) per CALLBACK clause;
    // drained after OUTTRANSFORM and at end of run
    private val pendingDrains = mutable.ArrayBuffer
      .empty[(graft.transform.CallbackChannel, (String, String) => Unit, Array[Int])]

    def run(script: String): Result = {
      splitStatements(script).foreach(compile)
      val yields = w.run()
      drainCallbacks()
      Result(last.map(_.result), yields)
    }

    /** Deliver callback messages that arrived since the last drain. */
    private def drainCallbacks(): Unit = pendingDrains.foreach {
      case (ch, handler, seen) =>
        val msgs = ch.messages
        msgs.drop(seen(0)).foreach { case (t, m) => handler(t, m) }
        seen(0) = msgs.length
    }

    private def compile(stmtRaw: String): Unit = {
      val (target, stmt) = stmtRaw match {
        case Assign(name, rest) => (Some(name), rest.trim)
        case _ => (None, stmtRaw.trim)
      }
      ordinal += 1
      // surface WHICH statement failed — a multi-statement script error
      // without location is hard to act on. nextOption: a dangling
      // assignment (`q =` with nothing after) reaches here with an EMPTY
      // statement — found by the fuzz spec
      val head = stmt.linesIterator.nextOption().getOrElse("<empty>")
      val label = s"[in statement: ${if (head.length > 80) head.take(80) + "…" else head}]"
      val out =
        try w.statement(Seq(ordinal.toString, stmt), label)(body(stmt, label))
        catch {
          case e: IllegalArgumentException =>
            throw new IllegalArgumentException(s"${e.getMessage} $label", e)
        }
      out.foreach { n =>
        last = Some(n)
        target.foreach(frames(_) = n)
      }
    }

    private def prev: Node =
      last.getOrElse(throw new IllegalArgumentException("no previous dataframe"))

    /** The statement's node over `deps`: op is its keyword. */
    private def node(s: Lexed, deps: Seq[Node])(f: Seq[DataFrame] => DataFrame): Node =
      w.process(deps, s.text.toUpperCase.takeWhile(!_.isWhitespace))(f)

    private def unary(s: Lexed, d: Node)(f: DataFrame => DataFrame): Node =
      node(s, Seq(d))(dfs => f(dfs.head))

    /** Statements whose df-list positions accept inline parenthesized
     * sub-statements (`OUTPUT a, (CREATE [[0]] SCHEMA a:int) USING ...` —
     * reference nested extensions, tests/fugue/sql/test_workflow.py:267).
     * SELECT passthrough is excluded: its parens are subqueries. */
    private val InlineHosts = Set("OUTPUT", "PROCESS", "SUB", "TRANSFORM",
      "OUTTRANSFORM", "COTRANSFORM", "ZIP", "PRINT")
    private val InlineInner = "^(?i)(CREATE|LOAD|SELECT|TAKE|SAMPLE)\\b".r

    /** Compile `( <sub-statement> )` groups and splice their generated
     * names back into the statement text. */
    private def resolveInline(stmt: String, label: String): String = {
      val kw = stmt.toUpperCase.takeWhile(!_.isWhitespace)
      if (!InlineHosts.contains(kw)) return stmt
      val s = lex(stmt)
      val sb = new StringBuilder
      var done = 0
      for (i <- s.topIndices('(')) {
        val j = s.groupEnd(i)
        if (j < 0)
          throw new IllegalArgumentException(
            "unbalanced parenthesis in statement: " +
              stmt.trim.linesIterator.nextOption().getOrElse("<empty>"))
        val inner = stmt.substring(i + 1, j - 1).trim
        sb ++= stmt.substring(done, i)
        if (InlineInner.findFirstIn(inner).isDefined) {
          val name = s"__inline_${frames.size}"
          frames(name) = w.statement(Seq(s"$ordinal.$name", inner), label)(
            body(inner, label)).getOrElse(
            throw new IllegalArgumentException(s"inline statement yields nothing: $inner"))
          sb ++= name
        } else sb ++= stmt.substring(i, j) // e.g. USING ext(params)
        done = j
      }
      sb ++= stmt.substring(done)
      sb.toString
    }

    private def body(stmtRaw: String, label: String): Option[Node] = {
      val s = lex(resolveInline(stmtRaw, label))
      s.text.toUpperCase.takeWhile(!_.isWhitespace) match {
        case "LOAD" => Some(compileLoad(s))
        case "SAVE" => compileSave(s) // Some only for SAVE AND USE
        case "SELECT" | "WITH" => Some(compileSelect(s))
        case "CREATE" => Some(compileCreate(s))
        case "ZIP" => Some(compileZip(s))
        case "TAKE" => Some(compileTake(s))
        case "SAMPLE" => Some(compileSample(s))
        case "DROPNA" => Some(compileDropna(s))
        case "FILLNA" => Some(compileFillna(s))
        case "RENAME" => Some(compileRename(s))
        case "ALTER" => Some(compileAlter(s))
        case "DROP" => Some(compileDropCols(s))
        case "DISTINCT" => Some(unary(s, frameRef(s))(engine.distinct))
        case "TRANSFORM" => Some(compileTransform(s))
        case "OUTTRANSFORM" => compileOutTransform(s); None
        case "COTRANSFORM" => Some(compileCoTransform(s))
        case "PROCESS" => Some(compileProcess(s))
        case "SUB" => Some(compileSub(s))
        case "OUTPUT" => compileOutput(s); None
        case "PRINT" => compilePrint(s); None
        case "PERSIST" => Some(unary(s, frameRef(s))(identity).persist())
        case "BROADCAST" => Some(unary(s, frameRef(s))(identity).broadcast())
        case kw @ ("WEAK" | "STRONG" | "DETERMINISTIC" | "CHECKPOINT") =>
          Some(compileCheckpoint(kw, s))
        case "YIELD" => compileYield(s); None
        case "CONNECT" => compileConnect(s, label)
        case other => throw new IllegalArgumentException(s"unknown statement '$other'")
      }
    }

    // helpers ----------------------------------------------------------
    /** Grammar words: never a dataframe name. Those in `Clauses` open a
     * clause, which ends a dataframe position; only FROM's argument is a
     * dataframe. */
    private val Clauses = Set("FROM", "PREPARTITION", "PRESORT", "BY", "USING",
      "ON", "PARAMS", "COLUMNS", "AS", "SCHEMA", "CALLBACK", "TITLE")
    private val NonDfTokens = Clauses ++ Set("OVERWRITE", "APPEND", "TO", "SINGLE",
      "PARQUET", "CSV", "JSON", "ORC", "AND", "USE", "ROWS", "ROW", "PERCENT",
      "REPLACE", "SEED", "LAZY", "NULLS", "NULL", "FIRST", "LAST", "ALL", "ANY",
      "IF", "EXISTS", "DATA", "WEAK", "STRONG", "DETERMINISTIC", "CHECKPOINT",
      "LOCAL", "DATAFRAME", "FILE", "TABLE", "INNER", "LEFT", "RIGHT", "FULL",
      "OUTER", "CROSS", "LEFT_OUTER", "RIGHT_OUTER", "FULL_OUTER", "SEMI", "ANTI",
      "LEFT_SEMI", "LEFT_ANTI", "ROWCOUNT")

    /** The join word of a ZIP or COTRANSFORM (`LEFT OUTER`, `left_outer`,
     * `FULL`, `CROSS`, ...; inner if none). The zip operator reads it with
     * `engine.join`'s normalizer and rejects what it cannot honour. */
    private def joinWord(s: Lexed): String =
      s.find("(?i)\\b(INNER|CROSS|SEMI|ANTI|OUTER|(?:LEFT|RIGHT|FULL)(?:[\\s_]+(?:OUTER|SEMI|ANTI))?)\\b".r)
        .fold("inner")(_.matched)

    /** The frames a statement reads. Its dataframe positions are the words
     * after its keyword up to the first clause word, and the words after
     * FROM up to the next one. There grammar words, numbers and string
     * literals are skipped, and every other identifier, plain or
     * backtick-quoted, must name a frame: a typo must not silently process
     * the previous frame. None named: the previous frame. */
    private def frameRefs(s: Lexed): Seq[Node] = {
      var open = true
      val named = "[^\\s,]+".r.findAllMatchIn(s.top).drop(1).flatMap { m =>
        val word = m.matched.toUpperCase
        val name = m.matched.head == '`' ||
          (word.forall(c => c.isLetterOrDigit || c == '_') && !word.forall(_.isDigit))
        if (Clauses(word)) { open = word == "FROM"; None }
        else if (!open || !name || NonDfTokens(word)) None
        else {
          val n = unquote(s.at(m, 0))
          Some(frames.getOrElse(n, throw new IllegalArgumentException(s"unknown dataframe '$n'")))
        }
      }.toSeq
      if (named.isEmpty) Seq(prev) else named
    }

    private def frameRef(s: Lexed): Node = frameRefs(s) match {
      case Seq(n) => n
      case ns => throw new IllegalArgumentException(s"expected one dataframe, got ${ns.size}")
    }

    /** The string literal (`'…'` or `"…"`) that opens at `i`, unquoted,
     * and the offset past it. */
    private def literalAt(s: Lexed, i: Int): Option[(String, Int)] =
      Option.when(i < s.code.length && "'\"".contains(s.code(i)))(s.code.indexOf(s.code(i), i + 1))
        .filter(_ > 0).map(j => (unquote(s.text.substring(i, j + 1)), j + 1))

    /** The statement's path: its first string literal outside parens. */
    private def path(s: Lexed): (String, Int) =
      s.code.indices.find(i => "'\"".contains(s.code(i)) && !s.quoted(i) && s.depth(i) == 0)
        .flatMap(literalAt(s, _)).filter(_._1.nonEmpty)
        .getOrElse(throw new IllegalArgumentException(s"expected quoted path in: ${s.text}"))

    private def kwArg(s: Lexed, kw: String): Option[String] =
      // tokens exclude commas — `a, b` must capture both items, not `a,` —
      // and a quoted name is one token whatever it holds (masked in code)
      s.find(s"(?i)\\b$kw\\s+([^\\s,]+(?:\\s*,\\s*[^\\s,]+)*)".r).map(s.at(_, 1))

    /** Split a kwArg column list on top-level commas and unquote each
     * name (a column literally NAMED `a,b` stays one item). */
    private def splitCols(s: String): Seq[String] = lex(s).split(',').map(unquote)

    /** `k:v, ..` pairs: USING and LOAD/SAVE params, FILLNA PARAMS, RENAME
     * COLUMNS. Items split at top-level commas, each at its first
     * top-level colon; a quoted key or value loses its quotes. An item
     * without a colon is an error, not silently dropped. */
    private def parseParams(s: String): Seq[(String, String)] = lex(s).split(',').map { item =>
      val colon = lex(item).topIndices(':').headOption.getOrElse(throw new IllegalArgumentException(
        s"malformed param '$item' (expected name:value) in ($s)"))
      unquote(item.take(colon).trim) -> unquote(item.drop(colon + 1).trim)
    }

    /** The params of the `(k:v,..)` group that opens at `open`. */
    private def groupParams(s: Lexed, open: Int): Map[String, String] = {
      val end = s.groupEnd(open)
      require(end > 0, s"unbalanced parenthesis in: ${s.text}")
      parseParams(s.text.substring(open + 1, end - 1)).toMap
    }

    // statements -------------------------------------------------------
    /** `(k:v,..)` group following the quoted path — LOAD/SAVE options
     * (reference `LOAD "path" (params)`, _visitors.py:560-592). Flags like
     * SINGLE may sit between the path and the params group. */
    private def pathParams(s: Lexed, pathEnd: Int): Map[String, String] =
      s.topIndices('(').find(_ >= pathEnd).map(groupParams(s, _)).getOrElse(Map.empty)

    private def compileLoad(s: Lexed): Node = {
      val fmt = s.find("(?i)^LOAD\\s+(PARQUET|CSV|JSON)\\b".r)
        .map(_.group(1).toLowerCase).getOrElse("")
      val cols = kwArg(s, "COLUMNS").map(splitCols).getOrElse(Nil)
      val (p, end) = path(s)
      w.load(p, fmt, cols, options = pathParams(s, end))
    }

    /** SAVE / SAVE AND USE / SAVE PREPARTITION BY — returns the re-loaded
     * frame for AND USE (reference save_and_use, processors.py:300). */
    private def compileSave(s: Lexed): Option[Node] = {
      // OVERWRITE | APPEND | TO (TO = fail if exists, _visitors.py:237-241)
      val mode =
        if (s.has("APPEND")) "append"
        else if (s.has("OVERWRITE")) "overwrite"
        else if (s.has("TO")) "error"
        else "overwrite"
      val fmt = s.find("(?i)\\b(PARQUET|CSV|JSON)\\b".r).map(_.group(1).toLowerCase).getOrElse("")
      val partBy = kwArg(s, "PREPARTITION\\s+BY").map(splitCols).getOrElse(Nil)
      val (p, end) = path(s)
      val params = pathParams(s, end)
      frameRef(s).save(p, fmt, mode, partBy, s.has("SINGLE"), params)
      // reload with the SAME options (header/delimiter/...), or the read
      // side's defaults could disagree with what was just written; built
      // after the save, so it runs after it
      if (s.has("AND\\s+USE")) Some(w.load(p, fmt, options = params)) else None
    }

    /** `[[1,"a"],[2,"b"]]`-style literal rows (reference CREATE DATA,
     * _visitors.py:513-518). Values: long/double/string/bool/NULL. */
    private def parseDataLiteral(s: String): Seq[Seq[Any]] = {
      val code = lex(s).code
      var i = 0
      def skipWs(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
      def expect(c: Char): Unit = {
        skipWs()
        require(i < s.length && s(i) == c, s"expected '$c' at $i in: $s")
        i += 1
      }
      def value(): Any = {
        skipWs()
        require(i < s.length, s"expected a value at $i in: $s")
        s(i) match {
          case q @ ('"' | '\'') =>
            val end = code.indexOf(q, i + 1) + 1 // the content is masked
            require(end > 0, s"unterminated string at $i in: $s")
            val v = unquote(s.substring(i, end)); i = end; v
          case '[' => list()
          case _ =>
            val start = i
            while (i < s.length && !",]".contains(s(i))) i += 1
            val tok = s.substring(start, i).trim
            tok.toUpperCase match {
              case "NULL" => null
              case "TRUE" => true
              case "FALSE" => false
              case _ =>
                if (tok.matches("-?\\d+")) tok.toLong
                else if (tok.matches("-?\\d*\\.\\d+([eE][-+]?\\d+)?")) tok.toDouble
                else tok
            }
        }
      }
      def list(): Seq[Any] = {
        expect('[')
        val out = mutable.ArrayBuffer.empty[Any]
        skipWs()
        if (i < s.length && s(i) == ']') { i += 1; return out.toSeq }
        out += value()
        skipWs()
        while (i < s.length && s(i) == ',') { i += 1; out += value(); skipWs() }
        expect(']')
        out.toSeq
      }
      list().map {
        case row: Seq[_] => row.asInstanceOf[Seq[Any]]
        case single => Seq(single)
      }
    }

    /** CREATE [DATA] [[..]] SCHEMA s — literal frame; CREATE USING creator
     * — driver-side creator extension (_visitors.py:499-518). */
    private def compileCreate(s: Lexed): Node =
      if (s.find("(?i)^CREATE\\s+USING\\b".r).isDefined) {
        val (name, params, _) = usingClause(s)
        val c = extensions.creators.getOrElse(name,
          throw new IllegalArgumentException(s"unknown creator '$name'"))
        node(s, Nil)(_ => c.fn(engine, params))
      } else {
        val start = s.find("(?i)^CREATE(?:\\s+DATA)?\\s+".r).fold(0)(_.end)
        val schema = s.find("(?i)\\bSCHEMA\\b".r)
          .getOrElse(throw new IllegalArgumentException(s"CREATE requires SCHEMA: ${s.text}"))
        val rows = parseDataLiteral(s.text.substring(start, schema.start).trim)
        w.create(rows, s.text.substring(schema.end).trim)
      }

    /** ZIP df1, df2 [how] BY keys [PRESORT ...] → zipped frame
     * (key cols + __zip_i struct arrays; _visitors.py:520-527). */
    private def compileZip(s: Lexed): Node = {
      val sides = frameRefs(s)
      require(sides.size >= 2, s"ZIP needs at least 2 dataframes, got ${sides.size}")
      val keys = kwArg(s, "BY").map(splitCols)
        .getOrElse(throw new IllegalArgumentException("ZIP requires BY keys"))
      val presort = partitionSpec(s).presort
      node(s, sides)(Transform.zipFrames(_, keys, joinWord(s), presort))
    }

    private def compileSelect(s: Lexed): Node = {
      // add an implicit FROM the previous frame if absent. Both the FROM
      // presence check and the clause-insertion point look only at
      // TOP-LEVEL text (parens masked): a FROM inside a subquery must not
      // suppress the implicit FROM, and an ORDER BY inside a window
      // OVER(...) must not become the insertion point.
      val (text, implicitFrom) =
        if ("(?i)\\bFROM\\b".r.findFirstIn(s.top).isDefined) (s.text, Nil)
        else {
          // insert FROM before any trailing clause (WHERE/GROUP/…), not at
          // the end — "SELECT k WHERE v>1" must become
          // "SELECT k FROM __graft_prev WHERE v>1"
          val m = "(?i)\\b(WHERE|GROUP\\s+BY|HAVING|ORDER\\s+BY|LIMIT)\\b".r
            .findFirstMatchIn(s.top)
          val withFrom = m match {
            case Some(mm) =>
              s.text.substring(0, mm.start) + " FROM __graft_prev " + s.text.substring(mm.start)
            case None => s"${s.text} FROM __graft_prev"
          }
          (withFrom, Seq("__graft_prev" -> prev))
        }
      val views = implicitFrom ++ referenced(text)
      node(s, views.map(_._2))(dfs => engine.sqlSelect(text, views.map(_._1).zip(dfs).toMap))
    }

    /** The frames a SELECT names, found by the session's SQL parser, the
     * one `spark.sql` uses (FROM and JOIN items, subqueries, CTE bodies;
     * case-insensitive like temp views): the statement depends on these
     * only, so a frame is not auto-persisted for statements that never
     * read it. An `IDENTIFIER(..)` relation, or text the parser rejects,
     * depends on every frame; `spark.sql` reports the error when it runs. */
    private def referenced(text: String): Seq[(String, Node)] = {
      import org.apache.spark.sql.catalyst.analysis.{PlanWithUnresolvedIdentifier, UnresolvedRelation}
      import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
      def names(p: LogicalPlan): Seq[String] = (p match {
        case r: UnresolvedRelation if r.multipartIdentifier.size == 1 => r.multipartIdentifier
        case _: PlanWithUnresolvedIdentifier => frames.keys.toSeq
        case _ => Nil
      }) ++ (p.children ++ p.innerChildren.collect { case c: LogicalPlan => c } ++ p.subqueries)
        .flatMap(names)
      try {
        val named = names(engine.spark.sessionState.sqlParser.parsePlan(text))
          .map(_.toLowerCase).toSet
        frames.toSeq.filter { case (n, _) => named(n.toLowerCase) }
      } catch { case scala.util.control.NonFatal(_) => frames.toSeq }
    }

    /** Full reference PREPARTITION clause
     * (`fugue/sql/_visitors.py:167-175`): `PREPARTITION [HASH|RAND|EVEN|
     * COARSE] [num] [BY cols] [PRESORT ...]` — algo and num are optional
     * prefixes; num may be an arithmetic expression over ROWCOUNT /
     * CONCURRENCY (e.g. `ROWCOUNT/4 + 3`), evaluated by
     * [[PartitionSpec.evalNum]]. */
    private def partitionSpec(s: Lexed): PartitionSpec = {
      val algo = s.find("(?i)\\bPREPARTITION\\s+(HASH|RAND|EVEN|COARSE)\\b".r)
        .map(_.group(1).toLowerCase).getOrElse("default")
      // a num expression starts with a digit, '(' or a ROWCOUNT/CONCURRENCY
      // token — never with BY/PRESORT, so those keywords terminate it
      val num = s.find(("(?i)\\bPREPARTITION\\b(?:\\s+(?:HASH|RAND|EVEN|COARSE)\\b)?" +
        "\\s+((?:\\d+|ROWCOUNT|CONCURRENCY|\\()" +
        "(?:\\s*(?:\\d+|ROWCOUNT|CONCURRENCY|[+*/()\\-]))*)").r)
        .map(s.at(_, 1).trim).getOrElse("0")
      // BY belongs to the clause even with algo/num between (the bare
      // `BY`-adjacent form stays supported); outside a PREPARTITION these
      // statements carry no BY keyword
      val by =
        if (s.has("PREPARTITION")) kwArg(s, "BY").map(splitCols).getOrElse(Nil)
        else Nil
      // a NULLS FIRST|LAST clause (TAKE) ends the list
      val presort = s.find("(?i)\\bPRESORT\\s+((?:(?!NULLS?\\b)[\\w`]+(?:\\s+(?:ASC|DESC))?\\s*,?\\s*)+)".r)
        .map(m => PartitionSpec.parsePresort(s.at(m, 1))).getOrElse(Nil)
      PartitionSpec(algo = algo, num = num, by = by, presort = presort)
    }

    /** `CONNECT <engine>[(params)] [<statement>]` — the reference's
     * per-statement engine override (fugue/sql/_visitors.py:728-741). This
     * build runs ONE engine, so Spark aliases are accepted as a no-op pin
     * (migrating scripts keep working) and any other engine name fails
     * with an explicit message rather than silently running on the wrong
     * engine. A standalone CONNECT pins the engine for what follows —
     * also a no-op here. */
    private def compileConnect(s: Lexed, label: String): Option[Node] = {
      val m = s.find("(?i)^CONNECT\\s+([A-Za-z_][A-Za-z0-9_.]*)\\s*".r)
        .getOrElse(throw new IllegalArgumentException(
          s"CONNECT requires an engine name: ${s.text}"))
      val engineName = m.group(1).toLowerCase
      val end = if (s.code.startsWith("(", m.end)) s.groupEnd(m.end) else m.end
      require(end > 0, s"unbalanced parenthesis in: ${s.text}")
      val rest = s.text.substring(end).trim
      val sparkAliases = Set("spark", "sparksql", "spark_sql", "native", "graft")
      if (!sparkAliases.contains(engineName))
        throw new IllegalArgumentException(
          s"CONNECT engine '$engineName' is not available: single-engine " +
            s"(Spark) build — every statement runs on Spark; accepted " +
            s"aliases: ${sparkAliases.toSeq.sorted.mkString(", ")}")
      if (rest.isEmpty) None else body(rest, label)
    }

    private def compileTake(s: Lexed): Node = {
      // getOrElse, not .get: a bare `TAKE` must produce a statement error,
      // not NoSuchElementException (found by the fuzz spec)
      val n = s.find("(?i)TAKE\\s+(\\d+)".r).getOrElse(
        throw new IllegalArgumentException(
          s"TAKE requires a row count: ${s.text}")).group(1).toInt
      val naPos = if (s.has("NULLS?\\s+FIRST")) "first" else "last"
      val spec = partitionSpec(s)
      unary(s, frameRef(s))(engine.take(_, n, spec, naPos))
    }

    private def compileSample(s: Lexed): Node = {
      val replace = s.has("REPLACE")
      val seed = s.find("(?i)SEED\\s+(\\d+)".r).map(_.group(1).toLong)
      val pct = s.find("(?i)([\\d.]+)\\s*PERCENT".r).map(_.group(1).toDouble)
      val rows = s.find("(?i)(\\d+)\\s*ROWS".r).map(_.group(1).toLong)
      // grammar allows the positional form `SAMPLE df ...` as well as FROM
      unary(s, frameRef(s))(
        engine.sample(_, n = rows, frac = pct.map(_ / 100.0), replace = replace, seed = seed))
    }

    private def compileDropna(s: Lexed): Node = {
      val how = if (s.find("(?i)^DROPNA\\s+ALL\\b".r).isDefined) "all" else "any"
      val subset = kwArg(s, "ON").map(splitCols).getOrElse(Nil)
      unary(s, frameRef(s))(engine.dropna(_, how, subset = subset))
    }

    private def compileFillna(s: Lexed): Node = {
      val params = kwArg(s, "PARAMS").map(parseParams(_).toMap).getOrElse(Map.empty)
      unary(s, frameRef(s)) { d =>
        val typed: Map[String, Any] = params.map { case (k, v) =>
          k -> (d.schema(k).dataType match {
            case org.apache.spark.sql.types.DoubleType | org.apache.spark.sql.types.FloatType => v.toDouble
            case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType => v.toLong
            case _ => v
          })
        }
        engine.fillna(d, typed)
      }
    }

    private def compileRename(s: Lexed): Node = {
      val pairs = kwArg(s, "COLUMNS").map(parseParams(_).toMap).getOrElse(Map.empty)
      unary(s, frameRef(s))(engine.rename(_, pairs))
    }

    private def compileAlter(s: Lexed): Node = {
      val casts = kwArg(s, "COLUMNS").map(_.trim).getOrElse("")
      unary(s, frameRef(s))(engine.alterColumns(_, casts))
    }

    private def compileDropCols(s: Lexed): Node = {
      val cols = kwArg(s, "COLUMNS").map(splitCols).getOrElse(Nil)
      val ifExists = s.has("IF\\s+EXISTS")
      unary(s, frameRef(s))(engine.dropColumns(_, cols, ifExists))
    }

    /** SCHEMA hint after the USING clause, clipped at a following CALLBACK
     * clause or end-of-statement — uniform for TRANSFORM, OUTTRANSFORM and
     * COTRANSFORM, multi-line safe. */
    private def schemaHint(s: Lexed): Option[String] =
      s.find("(?si)\\bSCHEMA\\s+(.+?)\\s*(?=\\bCALLBACK\\b|$)".r)
        .map(s.at(_, 1).trim.replaceAll("\\s*\\n\\s*", ""))

    /** Wire a transformer (with optional CALLBACK) into a mapPartitions
     * plan over `d`. Shared by TRANSFORM and OUTTRANSFORM. */
    private def buildTransform(s: Lexed, d: DataFrame): DataFrame = {
      val (name, params, usingAt) = usingClause(s)
      // clip at USING so the greedy PRESORT column list cannot swallow the
      // USING/SCHEMA clauses
      val spec = partitionSpec(s.take(usingAt))
      // zipped input (from ZIP): route through the cotransformer registry
      if (Transform.isZipped(d)) {
        val zipCols = d.columns.filter(_.startsWith("__zip_")).sorted
        // the zip structs capture the full original rows, so the struct
        // element type IS the original side schema
        def sideSchema(c: String) =
          d.schema(c).dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
        // the zip keys are the partition keys; the statement's own PRESORT
        // must order the zipped arrays the cotransformer iterates
        val keys = d.columns.filterNot(_.startsWith("__zip_")).toSeq
        val (out, fn) = coTransformer(s, name, params,
          PartitionSpec(by = keys, presort = spec.presort),
          sideSchema(zipCols(0)), sideSchema(zipCols(1)))
        return Transform.coMapZipped(Transform.presortZipped(d, spec.presort), out)(fn)
      }
      val t = transformers.getOrElse(name,
        throw new IllegalArgumentException(s"unknown transformer '$name'"))
      graft.transform.ExtensionValidation.validate(t.validation, spec, d.schema)
      val outSchema = schemaHint(s)
        .map(h => SchemaExpr.applyHint(d.schema, h))
        .getOrElse(t.outputSchema(d.schema, params))
      s.find("(?i)\\bCALLBACK\\s+([A-Za-z_][A-Za-z0-9_.]*)".r).map(_.group(1)) match {
        case Some(cbName) =>
          val handler = extensions.callbacks.getOrElse(cbName,
            throw new IllegalArgumentException(s"unknown callback handler '$cbName'"))
          val cbFn = t.cbFn.getOrElse(throw new IllegalArgumentException(
            s"transformer '$name' has no callback-aware variant (cbFn)"))
          val ch = graft.transform.CallbackChannel(engine.spark)
          pendingDrains += ((ch, handler, Array(0)))
          Transform.mapPartitions(d, spec, outSchema)((c, rows) => cbFn(c, rows, params, ch))
        case None =>
          Transform.mapPartitions(d, spec, outSchema)((c, rows) => t.fn(c, rows, params))
      }
    }

    private def compileTransform(s: Lexed): Node =
      unary(s, frameRef(s))(buildTransform(s, _))

    /** OUTTRANSFORM: run the transformer for its side effects (callbacks),
     * discard rows, deliver callback messages (_visitors.py:453-477). */
    private def compileOutTransform(s: Lexed): Unit =
      w.output(Seq(frameRef(s)), "outtransform") { dfs =>
        buildTransform(s, dfs.head).foreach(_ => ()) // force the action; output is discarded
        drainCallbacks()
      }

    /** PRINT [n ROWS] [FROM] [df, df2] [ROWCOUNT] [TITLE "t"]
     * (_visitors.py:546-559). */
    private def compilePrint(s: Lexed): Unit = {
      val n = s.find("(?i)PRINT\\s+(\\d+)\\s+ROWS?".r).map(_.group(1).toInt).getOrElse(10)
      val title = s.find("(?i)\\bTITLE\\s+".r).flatMap(m => literalAt(s, m.end)).map(_._1)
      w.show(frameRefs(s).distinct, n, s.has("ROWCOUNT"), title.getOrElse(""))
    }

    /** `USING name[(k:v,..)]`: the name, its params and where the clause
     * starts. */
    private def usingClause(s: Lexed): (String, Map[String, String], Int) = {
      val m = s.find("(?i)\\bUSING\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*".r)
        .getOrElse(throw new IllegalArgumentException(s"statement requires USING: ${s.text}"))
      val params = if (s.code.startsWith("(", m.end)) groupParams(s, m.end) else Map.empty[String, String]
      (m.group(1), params, m.start)
    }

    /** The cotransformer `name` bound to two sides: looked up, its rules
     * checked on both (the right side gets the input rules only) under
     * `spec`, and its output schema (the statement's SCHEMA, else the
     * cotransformer's own). Shared by COTRANSFORM and TRANSFORM on a
     * zipped frame. */
    private def coTransformer(s: Lexed, name: String, params: Map[String, String],
        spec: PartitionSpec, l: StructType, r: StructType)
        : (StructType, (Seq[Any], Iterator[Row], Iterator[Row]) => Iterator[Row]) = {
      val t = extensions.cotransformers.getOrElse(name,
        throw new IllegalArgumentException(s"'$name' is not a registered cotransformer"))
      graft.transform.ExtensionValidation.validate(t.validation, spec, l)
      graft.transform.ExtensionValidation.validate(
        t.validation.filter(_._1.startsWith("input_")), spec, r)
      val out = schemaHint(s).map(SchemaExpr.parse).getOrElse(t.outputSchema(l, r, params))
      (out, (k, ls, rs) => t.fn(k, ls, rs, params))
    }

    private def compileCoTransform(s: Lexed): Node = {
      val (name, params, usingAt) = usingClause(s)
      val sides = frameRefs(s)
      require(sides.size == 2, s"COTRANSFORM needs exactly 2 dataframes, got ${sides.size}")
      val head = s.take(usingAt)
      val keys = kwArg(head, "BY").map(splitCols)
        .getOrElse(throw new IllegalArgumentException("COTRANSFORM requires BY keys"))
      val spec = PartitionSpec(by = keys, presort = partitionSpec(head).presort)
      node(s, sides) { case Seq(l, r) =>
        val (out, fn) = coTransformer(s, name, params, spec, l.schema, r.schema)
        // the statement's PRESORT orders the cogrouped iterators
        Transform.coMap(l, r, keys, joinWord(head), out, spec.presort)(fn)
      }
    }

    private def compileProcess(s: Lexed): Node = {
      val (name, params, _) = usingClause(s)
      val p = extensions.processors.getOrElse(name,
        throw new IllegalArgumentException(s"unknown processor '$name'"))
      node(s, frameRefs(s))(p.fn(engine, _, params))
    }

    /** A module that returns None passes its first input through, as an
     * output node does. */
    private def compileSub(s: Lexed): Node = {
      val (name, params, _) = usingClause(s)
      val md = extensions.modules.getOrElse(name,
        throw new IllegalArgumentException(s"unknown module '$name'"))
      node(s, frameRefs(s))(dfs => md.fn(engine, dfs, params).getOrElse(dfs.head))
    }

    private def compileOutput(s: Lexed): Unit = {
      val (name, params, _) = usingClause(s)
      val o = extensions.outputters.getOrElse(name,
        throw new IllegalArgumentException(s"unknown outputter '$name'"))
      w.output(frameRefs(s), name)(o.fn(_, params))
    }

    /** WEAK CHECKPOINT [LAZY] → persist; [STRONG] CHECKPOINT → parquet
     * round-trip (lineage break); DETERMINISTIC CHECKPOINT ["ns"] → parquet
     * reused across runs, keyed by the Workflow rule (the namespace is part
     * of the statement text, so of the key) (reference checkpoint keywords,
     * _visitors.py:249-282, _checkpoint.py:38-108). */
    private def compileCheckpoint(kw: String, s: Lexed): Node = {
      val d = unary(s, frameRef(s))(identity)
      if (kw == "WEAK") d.persist(eager = !s.has("LAZY"))
      else if (kw == "DETERMINISTIC") d.deterministicCheckpoint()
      else // STRONG or bare CHECKPOINT [SINGLE] [PREPARTITION BY ..]
        d.checkpoint(kwArg(s, "PREPARTITION\\s+BY").map(splitCols).getOrElse(Nil), s.has("SINGLE"))
    }

    /** YIELD [LOCAL] [DATAFRAME|FILE|TABLE] [df] AS name
     * (_visitors.py:284-299). FILE materializes to parquet and yields the
     * re-loaded handle; TABLE saves to the session catalog; LOCAL
     * materializes in this session so the yielded frame no longer depends
     * on upstream lineage. Later statements may read the frame by its
     * yield name. */
    private def compileYield(s: Lexed): Unit = {
      val as = s.find("(?i)\\bAS\\s+([A-Za-z_][A-Za-z0-9_]*)".r)
        .getOrElse(throw new IllegalArgumentException(s"YIELD requires AS name: ${s.text}"))
      val name = as.group(1)
      // the yield name is not a dataframe position: `YIELD a AS a` reads df `a`
      val head = s.take(as.start)
      val d = frameRef(head)
      frames(name) = d
      if (head.has("FILE")) d.yieldFileAs(name)
      else if (head.has("TABLE")) d.yieldTableAs(name)
      else d.yield_(name, asLocal = head.has("LOCAL"))
    }
  }
}
