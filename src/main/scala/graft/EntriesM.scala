package graft

import graft.engine.SparkGraftEngine
import graft.functions.{Dedup, Multimodal, Similarity, Sketches, TextFunctions}
import graft.transform.Transform
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import graft.EntryHelpers._

/** multimodal / media (m*) conformance queries and their DuckDB oracles — split out
 * of SparkEntry by family so the registries stay reviewable (the
 * assembled maps are behavior-identical; entries were moved verbatim).
 * Shared fixtures/loaders live in [[EntryHelpers]]. */
private[graft] object EntriesM {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // schema-driven Avro RECORD decode (m54 — the value rung of the
    // Avro ladder m35 census → m49 block extraction → here, joining
    // m50/m53 as the third format whose VALUES decode from first
    // principles): real-DataFileWriter fixtures carry the FULL type
    // system — primitives (negative ints pin zigzag), a nullable
    // union, enum, bytes, fixed (defined once, referenced by NAME),
    // array, map, a nested record — under all six public codecs;
    // every block re-fetches by its m49 locator and decodes under the
    // declared reader schema, which the embedded writer schema must
    // equal. Complex values flatten to hash-comparable strings here
    // (hex / sorted csv) — the operator itself returns native Spark
    // array/map/struct/binary columns. id%9==4 (flipped final sync)
    // and id%11==6 (schema-contract drift: a field missing) files
    // must contribute ZERO rows — never a partial or ver-less row
    // ORC LIST value decode (m64 — the ORC nested analog of parquet's
    // m57, same fixture shapes: the LENGTH stream partitions the
    // child column, PRESENT masks at both levels carry null lists,
    // empty lists and null elements; dictionary AND direct child
    // strings exercised across the five codecs); the oracle is the
    // same closed-form csv replay, so the TWO formats' nested decodes
    // are pinned to the same semantics
    "m64_orc_lists" -> ((s, dir) => {
      val docs = t(s, dir, "documents").selectExpr(
        "doc_id",
        "CASE WHEN doc_id % 7 = 0 THEN NULL " +
          "WHEN doc_id % 7 = 1 THEN CAST(array() AS ARRAY<BIGINT>) " +
          "ELSE transform(sequence(0, CAST(doc_id % 5 AS INT)), " +
          "i -> CASE WHEN (doc_id + i) % 11 = 3 THEN NULL " +
          "ELSE doc_id * 10 + i END) END AS nums",
        "CASE WHEN doc_id % 9 = 2 THEN NULL " +
          "WHEN doc_id % 9 = 3 THEN CAST(array() AS ARRAY<STRING>) " +
          "ELSE transform(sequence(0, CAST(doc_id % 4 AS INT)), " +
          "i -> CASE WHEN (doc_id + i) % 17 = 5 THEN NULL " +
          "ELSE concat('t', CAST((doc_id + i) % 13 AS STRING)) END) " +
          "END AS tags")
      withTempDir("graft_m64") { out =>
        val frames = Seq("none", "zlib", "snappy", "zstd", "lz4").map {
          codec =>
            docs.repartition(2).write.option("compression", codec)
              .mode("overwrite").orc(s"$out/$codec")
            val bin = graft.functions.Multimodal
              .loadBinaryFiles(s, s"$out/$codec", "*.orc")
              .selectExpr("monotonically_increasing_id() AS fid", "payload")
            graft.functions.Orc
              .orcDecodeLists(bin, "fid", "payload", "doc_id", "nums", "tags")
              .select(lit(codec).as("variant"),
                col("long_val").as("doc_id"),
                expr("CASE WHEN nums IS NULL THEN NULL ELSE " +
                  "array_join(transform(nums, x -> CAST(x AS STRING)), " +
                  "',', '_') END").as("nums_csv"),
                expr("CASE WHEN tags IS NULL THEN NULL ELSE " +
                  "array_join(tags, ',', '_') END").as("tags_csv"))
        }
        frames.reduce(_.unionByName(_)).localCheckpoint(true)
      }
    }),

    // parquet MAP value decode (m62 — the m57 Dremel path composed:
    // a map's key and value leaves assemble as PARALLEL per-row
    // lists; the required key leaf has no null-element band, the
    // optional value leaf does; zipping them yields the map). Null
    // map / empty map / null value all populated; both writer
    // versions; the oracle replays sorted key=value csv
    "m62_parquet_maps" -> ((s, dir) => {
      val docs = t(s, dir, "documents").selectExpr(
        "doc_id",
        "CASE WHEN doc_id % 7 = 0 THEN NULL " +
          "WHEN doc_id % 7 = 1 THEN CAST(map() AS MAP<STRING,BIGINT>) " +
          "ELSE map_from_arrays(" +
          "transform(sequence(0, CAST(doc_id % 4 AS INT)), " +
          "i -> concat('k', CAST((doc_id + i) % 9 AS STRING))), " +
          "transform(sequence(0, CAST(doc_id % 4 AS INT)), " +
          "i -> CASE WHEN (doc_id + i) % 13 = 5 THEN NULL " +
          "ELSE doc_id * 10 + i END)) END AS m")
        .repartition(2).sortWithinPartitions("doc_id")
      withTempDir("graft_m62") { out =>
        val frames = Seq("v1" -> "snappy", "v2" -> "zstd").map {
          case (ver, codec) =>
            val path = s"$out/${ver}_$codec"
            docs.write
              .option("parquet.writer.version", ver)
              .option("parquet.page.row.count.limit", "40")
              .option("compression", codec)
              .mode("overwrite").parquet(path)
            val bin = graft.functions.Multimodal
              .loadBinaryFiles(s, path, "*.parquet")
              .selectExpr("monotonically_increasing_id() AS fid", "payload")
            graft.functions.ParquetFooter
              .parquetDecodeMap(bin, "fid", "payload", "doc_id",
                "m.key_value.key", "m.key_value.value")
              .select(lit(s"${ver}_$codec").as("variant"),
                col("long_val").as("doc_id"),
                expr("CASE WHEN m IS NULL THEN NULL ELSE " +
                  "array_join(transform(array_sort(map_keys(m)), " +
                  "k -> concat(k, '=', coalesce(" +
                  "CAST(element_at(m, k) AS STRING), '_'))), ',') END")
                  .as("m_csv"))
        }
        frames.reduce(_.unionByName(_)).localCheckpoint(true)
      }
    }),

    // ORC TEMPORAL/DECIMAL/BINARY value decode (m61 — completing the
    // ORC type matrix over m53/m55): timestamps from the
    // seconds-relative-to-2015 DATA stream + trailing-zero-packed
    // nanos SECONDARY (fixture spans pre-1970 instants, pinning the
    // truncation-fix rule and the sign), dates as RLEv2 epoch days,
    // binary via length+bytes, decimals as unbounded zigzag varint
    // mantissas with per-value scales — across all five codecs,
    // zipped per row, hash-matched against the closed-form oracle
    "m61_orc_temporal" -> ((s, dir) => {
      val docs = t(s, dir, "documents").selectExpr(
        "doc_id",
        "CASE WHEN doc_id % 7 <> 0 THEN " +
          "timestamp_micros((doc_id - 250) * 86400000000 + doc_id * 1001) " +
          "END AS ts",
        "CASE WHEN doc_id % 11 <> 3 THEN " +
          "date_add(DATE'1970-01-01', CAST(doc_id * 37 % 25000 AS INT)) " +
          "END AS d",
        "CASE WHEN doc_id % 5 <> 2 THEN " +
          "CAST(concat('b', doc_id) AS BINARY) END AS bin",
        "CASE WHEN doc_id % 13 <> 6 THEN " +
          "CAST(doc_id AS DECIMAL(12,2)) - 500.25 END AS dec")
      withTempDir("graft_m61") { out =>
        val frames = Seq("none", "zlib", "snappy", "zstd", "lz4").map {
          codec =>
            docs.repartition(2).write.option("compression", codec)
              .mode("overwrite").orc(s"$out/$codec")
            val bin = graft.functions.Multimodal
              .loadBinaryFiles(s, s"$out/$codec", "*.orc")
              .selectExpr("monotonically_increasing_id() AS fid", "payload")
            graft.functions.Orc
              .orcDecodeTemporal(bin, "fid", "payload",
                "doc_id", "ts", "d", "bin", "dec")
              .select(lit(codec).as("codec"),
                col("long_val").as("doc_id"), col("ts_micros"),
                col("date_days"), hex(col("bin")).as("bin_hex"),
                col("dec_str"))
        }
        frames.reduce(_.unionByName(_)).localCheckpoint(true)
      }
    }),

    // MKV FRAME extraction at cue locators (m60 — the read the m52
    // seek index enables, the m42/m49 addressed-bytes pattern for
    // video): each cue replays to its cluster, whose REAL
    // SimpleBlocks then parse — track vint, 2-byte SIGNED relative
    // timestamp (id%3==1 files put block 0 BEFORE the cluster
    // timestamp), keyframe flag — and every frame's bytes are
    // extracted and hex-replayed by the oracle. Forged cue 0
    // (id%9==7) extracts nothing for that cue; a LACED block
    // (id%8==5) refuses the whole file; no Cues (id%5==3) → no reads
    "m60_mkv_frames" -> ((s, dir) => {
      val ids = t(s, dir, "documents").select("doc_id")
      graft.functions.Ebml.mkvFrames(
        graft.functions.Ebml.syntheticMkvFrameFiles(ids, "doc_id"),
        "doc_id", "payload")
        .select(col("doc_id"), col("cue_no"), col("block_no"), col("track"),
          col("abs_time"), col("keyframe"), hex(col("frame")).as("frame_hex"))
    }),

    // parquet NESTED-LIST value decode (m57 — m50 extended with
    // repetition levels): Spark writes (doc_id, nums array<long>,
    // tags array<string>) under v1/snappy and v2/zstd with 40-row
    // pages; every leaf decodes from first principles including the
    // Dremel record assembly — rep levels mark row starts, def-level
    // bands distinguish null list / empty list / null element /
    // present element (all four populated by the fixture's residue
    // classes) — and the reassembled lists, zipped against the flat
    // doc_id column, must hash-match the oracle's closed-form csv
    // replay (null lists → NULL, empty → '', null elements → '_')
    "m57_parquet_lists" -> ((s, dir) => {
      val docs = t(s, dir, "documents").selectExpr(
        "doc_id",
        "CASE WHEN doc_id % 7 = 0 THEN NULL " +
          "WHEN doc_id % 7 = 1 THEN CAST(array() AS ARRAY<BIGINT>) " +
          "ELSE transform(sequence(0, CAST(doc_id % 5 AS INT)), " +
          "i -> CASE WHEN (doc_id + i) % 11 = 3 THEN NULL " +
          "ELSE doc_id * 10 + i END) END AS nums",
        "CASE WHEN doc_id % 9 = 2 THEN NULL " +
          "WHEN doc_id % 9 = 3 THEN CAST(array() AS ARRAY<STRING>) " +
          "ELSE transform(sequence(0, CAST(doc_id % 4 AS INT)), " +
          "i -> CASE WHEN (doc_id + i) % 17 = 5 THEN NULL " +
          "ELSE concat('t', CAST((doc_id + i) % 13 AS STRING)) END) " +
          "END AS tags")
        .repartition(2).sortWithinPartitions("doc_id")
      withTempDir("graft_m57") { out =>
        val frames = Seq("v1" -> "snappy", "v2" -> "zstd").map {
          case (ver, codec) =>
            val path = s"$out/${ver}_$codec"
            docs.write
              .option("parquet.writer.version", ver)
              .option("parquet.page.row.count.limit", "40")
              .option("compression", codec)
              .mode("overwrite").parquet(path)
            val bin = graft.functions.Multimodal
              .loadBinaryFiles(s, path, "*.parquet")
              .selectExpr("monotonically_increasing_id() AS fid", "payload")
            graft.functions.ParquetFooter
              .parquetDecodeLists(bin, "fid", "payload", "doc_id",
                "nums.list.element", "tags.list.element")
              .select(lit(s"${ver}_$codec").as("variant"),
                col("long_val").as("doc_id"),
                expr("CASE WHEN nums IS NULL THEN NULL ELSE " +
                  "array_join(transform(nums, x -> CAST(x AS STRING)), " +
                  "',', '_') END").as("nums_csv"),
                expr("CASE WHEN tags IS NULL THEN NULL ELSE " +
                  "array_join(tags, ',', '_') END").as("tags_csv"))
        }
        frames.reduce(_.unionByName(_)).localCheckpoint(true)
      }
    }),

    // ORC full-scalar value decode (m55 — widening m53's long+string
    // to every scalar family): Spark writes a five-column table
    // (long, double, float, boolean, string — each with its own null
    // pattern, so every type's PRESENT-mask reassembly is exercised)
    // under all five codecs; every stripe's streams decode from first
    // principles — RLEv2 longs, raw little-endian IEEE 754 doubles
    // and floats, bit-packed byte-RLE booleans, dictionary/direct
    // strings — and the five decoded columns, zipped per row, must
    // hash-match the DuckDB oracle over the SAME source rows
    "m55_orc_scalars" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(
        col("doc_id"),
        when(col("doc_id") % 7 =!= 0,
          (col("doc_id") % 100).cast("double") * 0.25).as("score"),
        when(col("doc_id") % 11 =!= 3,
          ((col("doc_id") % 16).cast("double") / 4.0).cast("float"))
          .as("ratio"),
        when(col("doc_id") % 13 =!= 5, col("doc_id") % 3 === 0).as("ok"),
        when(col("doc_id") % 5 =!= 2, col("lang")).as("lang_n"))
      withTempDir("graft_m55") { out =>
        val frames = Seq("none", "zlib", "snappy", "zstd", "lz4").map {
          codec =>
            docs.repartition(2).write.option("compression", codec)
              .mode("overwrite").orc(s"$out/$codec")
            val bin = graft.functions.Multimodal
              .loadBinaryFiles(s, s"$out/$codec", "*.orc")
              .selectExpr("monotonically_increasing_id() AS fid", "payload")
            graft.functions.Orc
              .orcDecodeScalars(bin, "fid", "payload",
                "doc_id", "score", "ratio", "ok", "lang_n")
              .select(lit(codec).as("codec"),
                col("long_val").as("doc_id"), col("dbl_val").as("score"),
                col("flt_val").cast("double").as("ratio"),
                col("bool_val").as("ok"), col("str_val").as("lang_n"))
        }
        frames.reduce(_.unionByName(_)).localCheckpoint(true)
      }
    }),

    "m54_avro_records" -> ((s, dir) => {
      val ids = t(s, dir, "documents").select("doc_id")
      graft.functions.AvroRecord.decodeRecords(
        graft.functions.AvroRecord.syntheticRecordAvros(ids, "doc_id"),
        "doc_id", "payload", graft.functions.AvroRecord.docSchemaJson)
        .select(col("doc_id"), col("block_no"), col("rec_no"), col("codec"),
          col("rid"), col("ver"), col("lang"),
          col("score"), col("ratio").cast("double").as("ratio"),
          col("flag"), col("cat"),
          hex(col("blob")).as("blob_hex"),
          hex(col("fp")).as("fp_hex"),
          hex(col("fp2")).as("fp2_hex"),
          array_join(col("tags"), ",").as("tags_csv"),
          array_join(expr("transform(array_sort(map_keys(props)), " +
            "k -> concat(k, '=', cast(element_at(props, k) as string)))"),
            ",").as("props_csv"),
          col("pos.x").as("pos_x"), col("pos.y").as("pos_y"))
    }),

    // WebDataset-style tar shard export (the multimodal training-export
    // container): samples shard by key hash, write as <key>.<ext> tar
    // entries (null field → no entry), manifest + verify + byte-determinism
    // + full content round trip through loadTarShards. FULL oracle on the
    // counts (recomputed by DuckDB from the same null rule) and verdict
    // flags
    // real ISO-BMFF (MP4) demux, FULL oracle: synthetic one-track MP4s
    // whose stbl tables are pure functions of doc_id; DuckDB recomputes
    // every sample's offset (cum-sum of sizes + 4-byte inter-chunk pads
    // resolved via stco), size, sync flag, duration run, and dims from
    // first principles. head/tail probe bytes prove the EXTRACTION reads
    // the true stco-resolved ranges (a naive size cum-sum that ignores
    // chunk padding reads shifted bytes and fails the probes).
    "m13_mp4_demux" -> ((s, dir) => {
      val ids = t(s, dir, "documents").select("doc_id")
      graft.functions.Mp4.demuxMp4Frames(
        graft.functions.Mp4.syntheticMp4s(ids, "doc_id"),
        "doc_id", "payload")
        .select(col("doc_id"), col("frame_no"), col("offset"), col("size"),
          col("keyframe"), col("dur_ticks"), col("width"), col("height"),
          expr("cast(conv(hex(substring(frame_bytes, 1, 1)), 16, 10) as int)")
            .as("head_byte"),
          expr("cast(conv(hex(substring(frame_bytes, cast(size as int), 1)), 16, 10) as int)")
            .as("tail_byte"))
    }),

    // mixed-media-lake census: magic-byte type sniffing over a column
    // that interleaves all SIXTEEN payload families (PNG/GIF/
    // progressive MP4/fragmented MP4/MP3/WAV/Ogg/FLAC/plain text/WebP/
    // TIFF/Matroska/ZIP/zstd/gzip/Avro — the r13 walkers' formats join
    // the sweep)
    // — the "what is actually in this bucket" pass a 100 TB binary
    // column gets before any decode fan-out. Narrow map, O(1) header
    // reads; exact oracle
    "m17_media_census" -> ((s, dir) => {
      import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
      val ids = t(s, dir, "documents").select("doc_id")
      val schema = StructType(Seq(StructField("doc_id", LongType),
        StructField("payload", BinaryType)))
      val mixed = ids.mapPartitions { it =>
        it.map { r =>
          val id = r.getLong(0)
          val payload = (id % 16) match {
            case 0 => graft.functions.Multimodal.syntheticPng(16, 8, id)
            case 1 => graft.functions.Multimodal.syntheticGif(8, 8, 3, id)
            case 2 => graft.functions.Mp4.syntheticMp4(id)
            case 3 => graft.functions.Mp4.syntheticFmp4(id)
            case 4 => graft.functions.Mp3.syntheticMp3(id)
            case 5 => graft.functions.Multimodal.syntheticWav(8000, 1, 64, id)
            case 6 => graft.functions.Ogg.syntheticOgg(id)
            case 7 => graft.functions.Flac.syntheticFlac(id)
            case 8 => s"plain text payload $id".getBytes("UTF-8")
            case 9 => graft.functions.Imaging.syntheticWebp(24, 16,
              (id % 3).toInt, id)
            case 10 => graft.functions.Imaging.syntheticTiff(24, 16, 8,
              None, le = id % 2 == 0, id)
            case 11 => graft.functions.Ebml.syntheticMkv(id)
            case 12 => graft.functions.Zip.syntheticZip(id)
            case 13 => graft.functions.Zstd.syntheticZstd(id)
            case 14 => graft.functions.Gzip.syntheticGzip(id)
            case _ => graft.functions.Avro.syntheticAvro(id)
          }
          org.apache.spark.sql.Row(id, payload)
        }
      }(org.apache.spark.sql.Encoders.row(schema))
      graft.functions.Multimodal.mediaCensus(mixed, "doc_id", "payload")
        .select("doc_id", "media_type")
    }),

    // MPEG-audio frame walk conformance (the audio analog of m13): every
    // frame's offset/size/VBR-bitrate resolved from the headers alone;
    // the oracle recomputes the full frame arithmetic — per-version
    // bitrate table, padding bits, ID3v2 skip — and byte probes into the
    // frame DATA catch CBR assumptions and padding slips
    "m16_mp3_frames" -> ((s, dir) => {
      val ids = t(s, dir, "documents").select("doc_id")
      graft.functions.Mp3.mp3Frames(
        graft.functions.Mp3.syntheticMp3s(ids, "doc_id"),
        "doc_id", "payload")
        .select(col("doc_id"), col("frame_no"), col("offset"), col("size"),
          col("bitrate_kbps"), col("hz"), col("n_samples"),
          expr("cast(conv(hex(substring(frame_bytes, 5, 1)), 16, 10) as int)")
            .as("data_head"),
          expr("cast(conv(hex(substring(frame_bytes, cast(size as int), 1)), 16, 10) as int)")
            .as("data_tail"))
    }),

    // Ogg page-walk conformance (the container analog of m13/m16 for the
    // Vorbis/Opus share of an audio corpus): every page's offset, header
    // and body length, granule, serial, flags and completed-packet count
    // resolved from headers alone with the REAL page CRC verified; the
    // oracle recomputes the full lacing arithmetic — including packets
    // that span the 255-lacing boundary — and byte probes into the page
    // BODY catch any walk slip
    "m18_ogg_pages" -> ((s, dir) => {
      val ids = t(s, dir, "documents").select("doc_id")
      graft.functions.Ogg.oggPages(
        graft.functions.Ogg.syntheticOggs(ids, "doc_id"),
        "doc_id", "payload")
        .select(col("doc_id"), col("page_no"), col("offset"),
          col("header_bytes"), col("body_bytes"), col("granule"),
          col("serial"), col("bos"), col("eos"), col("n_packets"),
          expr("cast(conv(hex(substring(body, 1, 1)), 16, 10) as int)")
            .as("head_byte"),
          expr("cast(conv(hex(substring(body, cast(body_bytes as int), 1)), 16, 10) as int)")
            .as("tail_byte"))
    }),

    // Ogg PACKET reassembly conformance: logical packets rebuilt from the
    // lacing tables across page boundaries (every non-final fixture page
    // opens a packet of one or TWO 255 lacings the next page closes under
    // the continued flag — the sweep includes ≥3-segment >510-byte
    // packets and exact-510 packets ended by a terminating 0 lacing) —
    // sizes, page spans and completion order recomputed by the oracle
    // from the chained closed form, with head/tail probes into the
    // REASSEMBLED bytes spanning the page seam
    "m19_ogg_packets" -> ((s, dir) => {
      val ids = t(s, dir, "documents").select("doc_id")
      graft.functions.Ogg.oggPackets(
        graft.functions.Ogg.syntheticChainedOggs(ids, "doc_id"),
        "doc_id", "payload")
        .select(col("doc_id"), col("packet_no"), col("serial"), col("size"),
          col("n_pages"), col("end_page"),
          expr("cast(conv(hex(substring(bytes, 1, 1)), 16, 10) as int)")
            .as("head_byte"),
          expr("cast(conv(hex(substring(bytes, cast(size as int), 1)), 16, 10) as int)")
            .as("tail_byte"))
    }),

    // MULTIPLEXED Ogg reassembly conformance: two serials whose pages
    // strictly interleave in file order while BOTH streams hold a packet
    // open across their page seams — per-serial partial tracking is the
    // thing under test (a shared or file-ordered buffer concatenates
    // bytes across streams); sizes, page spans, completion order and
    // seam-spanning byte probes recomputed from the muxed closed form
    "m23_ogg_muxed" -> ((s, dir) => {
      val ids = t(s, dir, "documents").select("doc_id")
      graft.functions.Ogg.oggPackets(
        graft.functions.Ogg.syntheticMuxedOggs(ids, "doc_id"),
        "doc_id", "payload")
        .select(col("doc_id"), col("packet_no"), col("serial"), col("size"),
          col("n_pages"), col("end_page"),
          expr("cast(conv(hex(substring(bytes, 1, 1)), 16, 10) as int)")
            .as("head_byte"),
          expr("cast(conv(hex(substring(bytes, cast(size as int), 1)), 16, 10) as int)")
            .as("tail_byte"))
    }),

    // FLAC STREAMINFO decode: rate/channels/bits/total-samples (and the
    // derived duration) from the mandatory first metadata block, with a
    // VORBIS_COMMENT block to stride over — the lossless-audio member of
    // the typed-metadata family; bit-packed-field oracle
    "m22_flac_info" -> ((s, dir) => {
      val ids = t(s, dir, "documents").select("doc_id")
      graft.functions.Flac.flacInfo(
        graft.functions.Flac.syntheticFlacs(ids, "doc_id"),
        "doc_id", "payload")
    }),

    // ID3v2 text-frame extraction (title/artist/album/track) across tag
    // versions (v2.4 synchsafe / v2.3 plain / v2.2 24-bit frame sizes),
    // the three common text encodings, tag-level UNSYNCHRONISATION on
    // odd v2.2/v2.3 ids (real 0xff 0x00 stuffing through the UTF-16
    // BOMs), and a non-text PRIV/CNT frame to stride over — the
    // tag-metadata side of an audio corpus; exact string oracle
    "m21_id3_tags" -> ((s, dir) => {
      val ids = t(s, dir, "documents").select("doc_id")
      graft.functions.Mp3.id3TextFrames(
        graft.functions.Mp3.syntheticTaggedMp3s(ids, "doc_id"),
        "doc_id", "payload")
    }),

    // VorbisComment / OpusTags extraction (Vorbis I §5 / RFC 7845 §5.2):
    // the tag-metadata side of Ogg audio — vendor + KEY=value comments
    // decoded from the reassembled SECOND packet (the fixture's PAD
    // comment pushes it across a 255-lacing chain), the exact
    // counterpart of m21's ID3 walk; the oracle replays the comment
    // formulas, with the magic/framing variation the engine's to erase
    "m24_ogg_comments" -> ((s, dir) => {
      val ids = t(s, dir, "documents").select("doc_id")
      graft.functions.Ogg.oggComments(
        graft.functions.Ogg.syntheticCommentedOggs(ids, "doc_id"),
        "doc_id", "payload")
    }),

    // FLAC VORBIS_COMMENT extraction: the identical vendor + KEY=value
    // structure Ogg carries (m24), embedded raw inside a FLAC metadata
    // block — no magic, no framing bit — decoded by the SAME body
    // decoder; multi-block fixtures (PADDING before / APPLICATION after
    // on rotating ids) exercise the walk on both sides of the tag, and
    // id%5==4 files are tagless (absence, not corruption); exact string
    // oracle incl. a multi-byte-UTF-8 DESCRIPTION
    "m25_flac_comments" -> ((s, dir) => {
      val ids = t(s, dir, "documents").select("doc_id")
      graft.functions.Flac.flacComments(
        graft.functions.Flac.syntheticCommentedFlacs(ids, "doc_id"),
        "doc_id", "payload")
    }),

    // iTunes-style MP4 tag extraction (moov/udta/meta/ilst): ©-prefixed
    // 4cc keys with UTF-8 data atoms, binary trkn/covr atoms strided,
    // hdlr inside the meta FullBox strided, id%5==2 files tagless —
    // the MP4 analog of m21's ID3 walk; exact string oracle incl. the
    // 0xA9 key prefix and a multi-byte-UTF-8 comment
    "m26_mp4_tags" -> ((s, dir) => {
      val ids = t(s, dir, "documents").select("doc_id")
      graft.functions.Mp4.ilstTags(
        graft.functions.Mp4.syntheticTaggedMp4s(ids, "doc_id"),
        "doc_id", "payload")
    }),

    // RFC 3533 CHAINED bitstream (EOS→BOS reuse of one serial): the page
    // census must walk cleanly across the seam where per-link sequence
    // numbers restart at 0 — a walker that counts sequence numbers across
    // links (or rejects the restart) drops every chained .ogg; the
    // oracle replays both links' page arithmetic with byte probes
    "m27_ogg_chained" -> ((s, dir) => {
      val ids = t(s, dir, "documents").select("doc_id")
      graft.functions.Ogg.oggPages(
        graft.functions.Ogg.syntheticLinkedOggs(ids, "doc_id"),
        "doc_id", "payload")
        .select(col("doc_id"), col("page_no"), col("offset"),
          col("header_bytes"), col("body_bytes"), col("granule"),
          col("serial"), col("bos"), col("eos"), col("n_packets"),
          expr("cast(conv(hex(substring(body, 1, 1)), 16, 10) as int)")
            .as("head_byte"),
          expr("cast(conv(hex(substring(body, cast(body_bytes as int), 1)), 16, 10) as int)")
            .as("tail_byte"))
    }),

    // RIFF LIST/INFO tag extraction (the WAV member of the tag family,
    // completing ID3/Vorbis/FLAC/ilst): odd-size chunks exercise the
    // word-alignment pad rule on both sides of the tag list; id%5==3
    // files are tagless (absence, not corruption); exact string oracle
    // incl. a multi-byte-UTF-8 ICMT
    "m28_riff_tags" -> ((s, dir) => {
      val ids = t(s, dir, "documents").select("doc_id")
      graft.functions.Riff.riffInfoTags(
        graft.functions.Riff.syntheticTaggedWavs(ids, "doc_id"),
        "doc_id", "payload")
    }),

    // image HEADER census: dims/bit-depth/EXIF-orientation from raw
    // headers (JPEG SOF + APP1 TIFF IFD both endians, PNG IHDR, GIF
    // screen descriptor, BMP info header incl. top-down, WebP
    // VP8/VP8L/VP8X, TIFF IFD0 with the count-3 BitsPerSample
    // indirection) — NO pixel decode, the only affordable dims pass at
    // corpus scale; PNG/GIF legs go through the REAL ImageIO encoders
    "m29_image_meta" -> ((s, dir) => {
      val ids = t(s, dir, "documents").select("doc_id")
      graft.functions.Imaging.imageMeta(
        graft.functions.Imaging.syntheticImages(ids, "doc_id"),
        "doc_id", "payload")
    }),

    // Matroska/WebM EBML walk: DocType + segment Info + per-track
    // codec/dims/audio metadata from the element tree — unknown-size
    // segments (the live-muxed shape), multi-byte and non-minimal size
    // vints, 4- and 8-byte duration floats, Clusters strided by size;
    // id%5==2 files omit Duration (null), id%5==4 are audio-only
    "m30_mkv_tracks" -> ((s, dir) => {
      val ids = t(s, dir, "documents").select("doc_id")
      graft.functions.Ebml.mkvTracks(
        graft.functions.Ebml.syntheticMkvs(ids, "doc_id"),
        "doc_id", "payload")
    }),

    // ZIP central-directory walk: member name/method/sizes/CRC/offset
    // from EOCD + CD with exact-walk strictness, no inflation — the
    // epub/docx/jar census; the oracle replays the entry formulas incl.
    // the running local-header offsets, and the EOCD back-scan is
    // exercised by rotating ZIP comments
    "m31_zip_entries" -> ((s, dir) => {
      val ids = t(s, dir, "documents").select("doc_id")
      graft.functions.Zip.zipEntries(
        graft.functions.Zip.syntheticZips(ids, "doc_id"),
        "doc_id", "payload")
    }),

    // zstd FRAME census: per-frame content size / window / dict id /
    // checksum / block count by striding 3-byte block headers — the
    // compressed-shard census with zero decompression; multi-frame
    // payloads with skippable frames, single-segment frames, 1/2/4-byte
    // dict ids and absent/4B/8B content-size fields all rotate; the
    // oracle replays the full header-size arithmetic incl. offsets
    "m32_zstd_frames" -> ((s, dir) => {
      val ids = t(s, dir, "documents").select("doc_id")
      graft.functions.Zstd.zstdFrames(
        graft.functions.Zstd.syntheticZstds(ids, "doc_id"),
        "doc_id", "payload")
    }),

    // ID3v1 trailing-TAG extraction: the LEGACY 128-byte fixed-width tag
    // still carried (often exclusively) by a large share of crawled
    // MP3s — completes the MP3 tag surface next to m21's ID3v2 frames;
    // NUL- and space-padding both trimmed, v1.1 track byte decoded,
    // id%4==3 files untagged (absence); exact string oracle
    "m33_id3v1_tags" -> ((s, dir) => {
      val ids = t(s, dir, "documents").select("doc_id")
      graft.functions.Mp3.id3v1Tags(
        graft.functions.Mp3.syntheticV1TaggedMp3s(ids, "doc_id"),
        "doc_id", "payload")
    }),

    // gzip MEMBER walk (RFC 1952): per-member header fields + sizes with
    // CRC32/ISIZE verified against the streaming inflate — the pass that
    // locates records in .warc.gz, the format crawls actually ship. The
    // fixture's deflate streams use STORED blocks so every size is
    // closed-form; FNAME/FCOMMENT/FEXTRA/FHCRC/FTEXT all rotate and the
    // oracle replays the full header arithmetic incl. running offsets
    "m34_gzip_members" -> ((s, dir) => {
      val ids = t(s, dir, "documents").select("doc_id")
      graft.functions.Gzip.gzipMembers(
        graft.functions.Gzip.syntheticGzips(ids, "doc_id"),
        "doc_id", "payload")
    }),

    // Avro OCF block census: schema/codec from the file-metadata map and
    // per-block row counts / byte sizes / offsets from block headers —
    // zero row decode, codec never touched; sync-marker continuity
    // checked on every block; fixture varints are single-byte by
    // construction so the oracle replays offsets with LENGTH() arithmetic
    "m35_avro_blocks" -> ((s, dir) => {
      val ids = t(s, dir, "documents").select("doc_id")
      graft.functions.Avro.avroBlocks(
        graft.functions.Avro.syntheticAvros(ids, "doc_id"),
        "doc_id", "payload")
    }))

  val oracles: Map[String, String] = Map(

    // every field of every record replayed from the fixture formulas
    // (a single wrong primitive, hex byte, csv element, enum symbol,
    // null, or nested-struct member in any block of any codec
    // hash-mismatches); the two negative classes are excluded rows
    // the m57 closed form over codec variants instead of writer
    // versions — parquet and ORC nested decodes pinned to identical
    // semantics by construction
    "m64_orc_lists" ->
      """WITH w AS (SELECT unnest(['none', 'zlib', 'snappy', 'zstd',
        |  'lz4']) AS variant),
        |d AS (SELECT doc_id FROM documents)
        |SELECT variant, doc_id,
        | CASE WHEN doc_id % 7 = 0 THEN NULL
        |   WHEN doc_id % 7 = 1 THEN ''
        |   ELSE (SELECT string_agg(
        |     CASE WHEN (doc_id + n) % 11 = 3 THEN '_'
        |       ELSE CAST(doc_id * 10 + n AS VARCHAR) END, ',' ORDER BY n)
        |     FROM range(0, 8) t(n) WHERE n <= doc_id % 5) END AS nums_csv,
        | CASE WHEN doc_id % 9 = 2 THEN NULL
        |   WHEN doc_id % 9 = 3 THEN ''
        |   ELSE (SELECT string_agg(
        |     CASE WHEN (doc_id + n) % 17 = 5 THEN '_'
        |       ELSE 't' || CAST((doc_id + n) % 13 AS VARCHAR) END,
        |     ',' ORDER BY n)
        |     FROM range(0, 8) t(n) WHERE n <= doc_id % 4) END AS tags_csv
        |FROM w, d""".stripMargin,

    // sorted key=value csv replay of the m62 map fixtures: a dropped
    // entry, one-sided null, swapped value, or null-vs-empty
    // confusion in either writer version hash-mismatches
    "m62_parquet_maps" ->
      """WITH w AS (SELECT unnest(['v1_snappy', 'v2_zstd']) AS variant),
        |d AS (SELECT doc_id FROM documents)
        |SELECT variant, doc_id,
        | CASE WHEN doc_id % 7 = 0 THEN NULL
        |   WHEN doc_id % 7 = 1 THEN ''
        |   ELSE (SELECT string_agg(
        |     'k' || CAST((doc_id + n) % 9 AS VARCHAR) || '=' ||
        |     CASE WHEN (doc_id + n) % 13 = 5 THEN '_'
        |       ELSE CAST(doc_id * 10 + n AS VARCHAR) END,
        |     ',' ORDER BY (doc_id + n) % 9)
        |     FROM range(0, 8) t(n) WHERE n <= doc_id % 4) END AS m_csv
        |FROM w, d""".stripMargin,

    // the m61 oracle replays every instant/day/byte/decimal exactly —
    // a one-microsecond timestamp skew (wrong base, sign, nanos
    // scheme, or pre-1970 fix), off-by-one day, or mis-scaled
    // decimal in any stripe of any codec hash-mismatches
    "m61_orc_temporal" ->
      """WITH v AS (SELECT unnest(['none', 'zlib', 'snappy', 'zstd',
        |  'lz4']) AS codec),
        |d AS (SELECT doc_id,
        |  CASE WHEN doc_id % 7 <> 0
        |    THEN (doc_id - 250) * 86400000000 + doc_id * 1001
        |    END AS ts_micros,
        |  CASE WHEN doc_id % 11 <> 3
        |    THEN CAST(doc_id * 37 % 25000 AS INTEGER) END AS date_days,
        |  CASE WHEN doc_id % 5 <> 2
        |    THEN hex(CAST('b' || CAST(doc_id AS VARCHAR) AS BLOB))
        |    END AS bin_hex,
        |  CASE WHEN doc_id % 13 <> 6
        |    THEN CAST(CAST(doc_id AS DECIMAL(12,2)) - 500.25 AS VARCHAR)
        |    END AS dec_str
        | FROM documents)
        |SELECT codec, doc_id, ts_micros, date_days, bin_hex, dec_str
        |FROM v, d""".stripMargin,

    // every frame byte of every cued cluster replayed by hex — a
    // wrong seek, swapped block order, mis-signed relative time,
    // wrong keyframe flag, or single wrong frame byte hash-mismatches
    "m60_mkv_frames" ->
      """WITH d AS (SELECT doc_id FROM documents
        |  WHERE doc_id % 5 <> 3 AND doc_id % 8 <> 5),
        |c AS (SELECT doc_id,
        |  CAST(unnest(range(0, 1 + doc_id % 4)) AS INTEGER) AS k FROM d),
        |f AS (SELECT doc_id, k,
        |  CAST(unnest(range(0, 1 + (doc_id + k) % 3)) AS INTEGER) AS m
        | FROM c WHERE NOT (doc_id % 9 = 7 AND k = 0))
        |SELECT doc_id, k AS cue_no, m AS block_no,
        | CAST(1 AS BIGINT) AS track,
        | CAST(k*1000 + doc_id % 997 + m*40
        |   - CASE WHEN doc_id % 3 = 1 THEN 20 ELSE 0 END AS BIGINT)
        |   AS abs_time,
        | m = 0 AS keyframe,
        | (SELECT string_agg(
        |    lpad(hex((doc_id*3 + k*7 + m*11 + n) % 256), 2, '0'),
        |    '' ORDER BY n)
        |  FROM range(0, 32) t(n)
        |  WHERE n < 10 + (doc_id + k + m) % 20) AS frame_hex
        |FROM f""".stripMargin,

    // closed-form csv replay of the m57 list fixtures: a wrong Dremel
    // band (null list vs empty vs null element), a dropped element,
    // or a row misalignment in either writer version hash-mismatches
    "m57_parquet_lists" ->
      """WITH w AS (SELECT unnest(['v1_snappy', 'v2_zstd']) AS variant),
        |d AS (SELECT doc_id FROM documents)
        |SELECT variant, doc_id,
        | CASE WHEN doc_id % 7 = 0 THEN NULL
        |   WHEN doc_id % 7 = 1 THEN ''
        |   ELSE (SELECT string_agg(
        |     CASE WHEN (doc_id + n) % 11 = 3 THEN '_'
        |       ELSE CAST(doc_id * 10 + n AS VARCHAR) END, ',' ORDER BY n)
        |     FROM range(0, 8) t(n) WHERE n <= doc_id % 5) END AS nums_csv,
        | CASE WHEN doc_id % 9 = 2 THEN NULL
        |   WHEN doc_id % 9 = 3 THEN ''
        |   ELSE (SELECT string_agg(
        |     CASE WHEN (doc_id + n) % 17 = 5 THEN '_'
        |       ELSE 't' || CAST((doc_id + n) % 13 AS VARCHAR) END,
        |     ',' ORDER BY n)
        |     FROM range(0, 8) t(n) WHERE n <= doc_id % 4) END AS tags_csv
        |FROM w, d""".stripMargin,

    // the m55 oracle is the SOURCE ROWS themselves, replicated per
    // codec (the m53 posture widened to five scalar types): a single
    // wrong double word, flipped boolean bit, misaligned float, or
    // misplaced null in any stripe of any codec hash-mismatches
    "m55_orc_scalars" ->
      """WITH v AS (SELECT unnest(['none', 'zlib', 'snappy', 'zstd',
        |  'lz4']) AS codec),
        |d AS (SELECT doc_id,
        |  CASE WHEN doc_id % 7 <> 0
        |    THEN CAST(doc_id % 100 AS DOUBLE) * 0.25 END AS score,
        |  CASE WHEN doc_id % 11 <> 3
        |    THEN CAST(doc_id % 16 AS DOUBLE) / 4.0 END AS ratio,
        |  CASE WHEN doc_id % 13 <> 5 THEN doc_id % 3 = 0 END AS ok,
        |  CASE WHEN doc_id % 5 <> 2 THEN lang END AS lang_n
        | FROM documents)
        |SELECT codec, doc_id, score, ratio, ok, lang_n FROM v, d""".stripMargin,

    "m54_avro_records" ->
      """WITH d AS (SELECT doc_id FROM documents
        |  WHERE doc_id % 9 <> 4 AND doc_id % 11 <> 6),
        |b AS (SELECT doc_id,
        |  CAST(unnest(range(0, 1 + doc_id % 3)) AS INTEGER) AS k FROM d),
        |r AS (SELECT doc_id, k,
        |  CAST(unnest(range(0, 1 + (doc_id + k) % 3)) AS INTEGER) AS j
        | FROM b)
        |SELECT doc_id, k AS block_no, j AS rec_no,
        | CASE CAST(doc_id % 6 AS INTEGER) WHEN 0 THEN 'null'
        |   WHEN 1 THEN 'deflate' WHEN 2 THEN 'snappy'
        |   WHEN 3 THEN 'zstandard' WHEN 4 THEN 'xz'
        |   ELSE 'bzip2' END AS codec,
        | doc_id * 1000 + k * 100 + j AS rid,
        | CAST(doc_id % 1000 - 500 + j AS INTEGER) AS ver,
        | CASE WHEN (doc_id + j) % 3 = 2 THEN NULL
        |   ELSE 'l' || CAST((doc_id + j) % 7 AS VARCHAR) END AS lang,
        | CAST(doc_id % 100 AS DOUBLE) + j * 0.25 AS score,
        | CAST((doc_id + j) % 16 AS DOUBLE) / 4.0 AS ratio,
        | (doc_id + k + j) % 2 = 0 AS flag,
        | 'c' || CAST((doc_id + j) % 5 AS VARCHAR) AS cat,
        | coalesce((SELECT string_agg(
        |     lpad(hex((doc_id + n*13) % 256), 2, '0'), '' ORDER BY n)
        |   FROM range(0, 8) t(n) WHERE n < doc_id % 5 + j % 3), '')
        |   AS blob_hex,
        | (SELECT string_agg(
        |     lpad(hex((doc_id*7 + j + n) % 256), 2, '0'), '' ORDER BY n)
        |   FROM range(0, 8) t(n)) AS fp_hex,
        | (SELECT string_agg(
        |     lpad(hex((doc_id + j*3 + n*5) % 256), 2, '0'), '' ORDER BY n)
        |   FROM range(0, 8) t(n)) AS fp2_hex,
        | coalesce((SELECT string_agg(
        |     't' || CAST((doc_id + n) % 9 AS VARCHAR), ',' ORDER BY n)
        |   FROM range(0, 8) t(n) WHERE n < j % 3), '') AS tags_csv,
        | coalesce((SELECT string_agg('p' || CAST(n AS VARCHAR) || '=' ||
        |     CAST(doc_id % 50 + n*7 AS VARCHAR), ',' ORDER BY n)
        |   FROM range(0, 8) t(n) WHERE n < (doc_id + j) % 3), '')
        |   AS props_csv,
        | doc_id + j AS pos_x, doc_id - j AS pos_y
        |FROM r""".stripMargin,

    // full stbl arithmetic from first principles: sizes, 2-then-3-sample
    // chunking with 4-byte inter-chunk pads, stss sync flags, two-run
    // stts durations, tkhd dims, and the head/tail extraction probes
    "m17_media_census" ->
      """SELECT doc_id,
        | CASE CAST(doc_id % 16 AS INTEGER)
        |  WHEN 0 THEN 'png' WHEN 1 THEN 'gif' WHEN 2 THEN 'mp4'
        |  WHEN 3 THEN 'mp4' WHEN 4 THEN 'mp3' WHEN 5 THEN 'wav'
        |  WHEN 6 THEN 'ogg' WHEN 7 THEN 'flac' WHEN 8 THEN 'unknown'
        |  WHEN 9 THEN 'webp' WHEN 10 THEN 'tiff'
        |  WHEN 11 THEN 'matroska' WHEN 12 THEN 'zip'
        |  WHEN 13 THEN 'zstd' WHEN 14 THEN 'gzip'
        |  ELSE 'avro' END AS media_type
        |FROM documents""".stripMargin,

    // first-principles MP3 oracle: replays Mp3.syntheticShape — MPEG-1
    // Layer III frame size is 144000·kbps // hz + pad; data starts after
    // the optional ID3v2 block (10-byte header + synchsafe size)
    "m16_mp3_frames" ->
      """WITH d AS (SELECT doc_id, CAST(3 + doc_id % 6 AS INTEGER) AS n,
        |  CAST(doc_id % 3 AS INTEGER) AS sri FROM documents),
        |f AS (SELECT doc_id, n, sri,
        |  CAST(unnest(range(0, n)) AS INTEGER) AS i FROM d),
        |s AS (SELECT doc_id, i,
        |  CASE sri WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END AS hz,
        |  [32,40,48,56,64,80,96,112,128,160,192,224,256,320][
        |    CAST(1 + (doc_id + 5*i) % 14 AS INTEGER)] AS kbps,
        |  CAST((doc_id + i) % 2 AS INTEGER) AS pad FROM f),
        |z AS (SELECT doc_id, i, kbps, hz,
        |  144000 * kbps // hz + pad AS size FROM s),
        |o AS (SELECT doc_id, i, kbps, hz, size,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 27 + doc_id % 23 ELSE 0 END
        |    + COALESCE(SUM(size) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS off
        | FROM z)
        |SELECT doc_id, CAST(i AS INTEGER) AS frame_no, off AS "offset",
        | CAST(size AS INTEGER) AS size, CAST(kbps AS INTEGER) AS bitrate_kbps,
        | CAST(hz AS INTEGER) AS hz, CAST(1152 AS INTEGER) AS n_samples,
        | CAST((doc_id + i*131 + 4) % 256 AS INTEGER) AS data_head,
        | CAST((doc_id + i*131 + size - 1) % 256 AS INTEGER) AS data_tail
        |FROM o""".stripMargin,

    // replay of Flac.syntheticFlac's shape formulas; duration is integer
    // millisecond floor division in both engines
    "m22_flac_info" ->
      """WITH s AS (SELECT doc_id,
        | CASE CAST(doc_id % 4 AS INTEGER) WHEN 0 THEN 44100 WHEN 1 THEN 48000
        |   WHEN 2 THEN 96000 ELSE 22050 END AS rate,
        | CAST(1 + doc_id % 3 AS INTEGER) AS channels,
        | CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 16 WHEN 1 THEN 24
        |   ELSE 8 END AS bits,
        | CAST(1000 + doc_id % 9999 AS BIGINT) AS total
        |FROM documents)
        |SELECT doc_id, CAST(rate AS INTEGER) AS sample_rate, channels,
        | CAST(bits AS INTEGER) AS bits_per_sample, total AS total_samples,
        | CAST(total * 1000 // rate AS BIGINT) AS duration_ms
        |FROM s""".stripMargin,

    // replay of Mp3.syntheticTaggedMp3's frame formulas — encoding and
    // frame-SIZE encoding variation is the ENGINE's to erase; decoded
    // text is encoding-independent, but v2.2 tags (doc_id%3 = 2) carry
    // the 3-char frame-id vocabulary, emitted raw
    "m21_id3_tags" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 2 THEN 'TT2' ELSE 'TIT2' END AS frame_id,
        |  'title_' || CAST((doc_id*7) % 1000 AS VARCHAR) AS text
        | FROM documents
        |UNION ALL SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 2 THEN 'TP1' ELSE 'TPE1' END,
        |  'artist_' || CAST(doc_id % 50 AS VARCHAR) FROM documents
        |UNION ALL SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 2 THEN 'TAL' ELSE 'TALB' END,
        |  'album_' || CAST(doc_id % 20 AS VARCHAR) FROM documents
        |UNION ALL SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 2 THEN 'TRK' ELSE 'TRCK' END,
        |  CAST(1 + doc_id % 12 AS VARCHAR) FROM documents""".stripMargin,

    // replay of Ogg.syntheticCommentedOgg's comment formulas (the m21
    // vocabulary re-keyed VorbisComment-style); magic/framing variation
    // between OpusTags and the Vorbis type-3 header is the engine's
    "m24_ogg_comments" ->
      """WITH d AS (SELECT doc_id,
        |  CAST(5000 + doc_id % 100 AS BIGINT) AS serial,
        |  'graft ' || CAST(doc_id % 7 AS VARCHAR) AS vendor
        | FROM documents)
        |SELECT doc_id, serial, vendor, CAST(0 AS INTEGER) AS comment_no,
        |  'TITLE' AS "key",
        |  'title_' || CAST((doc_id*7) % 1000 AS VARCHAR) AS "value" FROM d
        |UNION ALL SELECT doc_id, serial, vendor, 1, 'ARTIST',
        |  'artist_' || CAST(doc_id % 50 AS VARCHAR) FROM d
        |UNION ALL SELECT doc_id, serial, vendor, 2, 'ALBUM',
        |  'album_' || CAST(doc_id % 20 AS VARCHAR) FROM d
        |UNION ALL SELECT doc_id, serial, vendor, 3, 'TRACKNUMBER',
        |  CAST(1 + doc_id % 12 AS VARCHAR) FROM d
        |UNION ALL SELECT doc_id, serial, vendor, 4, 'PAD',
        |  repeat('x', CAST(200 + doc_id % 200 AS INTEGER)) FROM d""".stripMargin,

    // replay of Flac.syntheticCommentedFlac's comment formulas; the
    // PADDING/APPLICATION neighbors and the missing-tag ids (doc_id%5=4)
    // are structural, so the oracle only filters and formats
    "m25_flac_comments" ->
      """WITH d AS (SELECT doc_id,
        |  'graft ' || CAST(doc_id % 7 AS VARCHAR) AS vendor
        | FROM documents WHERE doc_id % 5 <> 4)
        |SELECT doc_id, vendor, CAST(0 AS INTEGER) AS comment_no,
        |  'TITLE' AS "key",
        |  'title_' || CAST((doc_id*7) % 1000 AS VARCHAR) AS "value" FROM d
        |UNION ALL SELECT doc_id, vendor, 1, 'ARTIST',
        |  'artist_' || CAST(doc_id % 50 AS VARCHAR) FROM d
        |UNION ALL SELECT doc_id, vendor, 2, 'ALBUM',
        |  'album_' || CAST(doc_id % 20 AS VARCHAR) FROM d
        |UNION ALL SELECT doc_id, vendor, 3, 'TRACKNUMBER',
        |  CAST(1 + doc_id % 12 AS VARCHAR) FROM d
        |UNION ALL SELECT doc_id, vendor, 4, 'DESCRIPTION',
        |  'ünïcode_' || CAST(doc_id % 10 AS VARCHAR) FROM d""".stripMargin,

    // replay of Mp4.syntheticTaggedMp4's tag formulas: the five UTF-8
    // text atoms in list order (binary trkn/covr strided by the engine);
    // keys carry the literal 0xA9 iTunes prefix (U+00A9 '©')
    "m26_mp4_tags" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 5 <> 2)
        |SELECT doc_id, CAST(0 AS INTEGER) AS tag_no, '©nam' AS "key",
        |  'title_' || CAST((doc_id*7) % 1000 AS VARCHAR) AS "value" FROM d
        |UNION ALL SELECT doc_id, 1, '©ART',
        |  'artist_' || CAST(doc_id % 50 AS VARCHAR) FROM d
        |UNION ALL SELECT doc_id, 2, '©alb',
        |  'album_' || CAST(doc_id % 20 AS VARCHAR) FROM d
        |UNION ALL SELECT doc_id, 3, '©day',
        |  CAST(1970 + doc_id % 55 AS VARCHAR) FROM d
        |UNION ALL SELECT doc_id, 4, '©cmt',
        |  'cömment_' || CAST(doc_id % 10 AS VARCHAR) FROM d""".stripMargin,

    // replay of Ogg.syntheticLinkedOgg's two-link page arithmetic: file
    // page_no runs across both links, offsets cumulate 28-byte headers +
    // bodies in (link, page) order, bos/eos bracket each link, and the
    // body probes derive from the per-link byte formula
    "m27_ogg_chained" ->
      """WITH d AS (SELECT doc_id FROM documents),
        |l AS (SELECT doc_id, 0 AS lk FROM d
        |  UNION ALL SELECT doc_id, 1 FROM d),
        |lp AS (SELECT doc_id, lk,
        |  CAST(2 + (doc_id + lk) % 2 AS INTEGER) AS np FROM l),
        |p AS (SELECT doc_id, lk, np,
        |  CAST(unnest(range(0, np)) AS INTEGER) AS pg FROM lp),
        |b AS (SELECT doc_id, lk, np, pg,
        |  CAST(45 + ((doc_id*7 + lk*29 + pg*13) % 90) AS BIGINT) AS a,
        |  CAST(2 + doc_id % 2 AS INTEGER) AS np0
        | FROM p),
        |o AS (SELECT doc_id, lk, np, pg, a, np0,
        |  COALESCE(SUM(28 + a) OVER (PARTITION BY doc_id
        |    ORDER BY lk, pg ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND 1 PRECEDING), 0) AS off
        | FROM b)
        |SELECT doc_id,
        | CAST(CASE WHEN lk = 0 THEN pg ELSE np0 + pg END AS INTEGER)
        |   AS page_no,
        | CAST(off AS BIGINT) AS "offset",
        | CAST(28 AS INTEGER) AS header_bytes,
        | a AS body_bytes,
        | CAST((pg + 1) * (10 + lk) AS BIGINT) AS granule,
        | CAST(4000 + doc_id % 100 AS BIGINT) AS serial,
        | CAST(CASE WHEN pg = 0 THEN 1 ELSE 0 END AS INTEGER) AS bos,
        | CAST(CASE WHEN pg = np - 1 THEN 1 ELSE 0 END AS INTEGER) AS eos,
        | CAST(1 AS INTEGER) AS n_packets,
        | CAST((doc_id + lk*37 + pg*11) % 256 AS INTEGER) AS head_byte,
        | CAST((doc_id + lk*37 + pg*11 + a - 1) % 256 AS INTEGER) AS tail_byte
        |FROM o""".stripMargin,

    // replay of Riff.syntheticTaggedWav's tag formulas; the odd-chunk
    // pads, the trailing junk chunk and the NUL terminators are
    // structural (the engine's to erase); doc_id%5=3 files are tagless
    "m28_riff_tags" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 5 <> 3)
        |SELECT doc_id, CAST(0 AS INTEGER) AS tag_no, 'INAM' AS "key",
        |  'title_' || CAST((doc_id*7) % 1000 AS VARCHAR) AS "value" FROM d
        |UNION ALL SELECT doc_id, 1, 'IART',
        |  'artist_' || CAST(doc_id % 50 AS VARCHAR) FROM d
        |UNION ALL SELECT doc_id, 2, 'ICRD',
        |  CAST(1970 + doc_id % 55 AS VARCHAR) FROM d
        |UNION ALL SELECT doc_id, 3, 'ICMT',
        |  'cömment_' || CAST(doc_id % 10 AS VARCHAR) FROM d""".stripMargin,

    // replay of Imaging.syntheticImage's family rotation and dim
    // formulas; container encoding differences (marker walks, IFD
    // endianness, WebP variant bit packing, ImageIO's real PNG/GIF
    // encoders) are the engine's to erase
    "m29_image_meta" ->
      """SELECT doc_id,
        | CASE CAST(doc_id % 7 AS INTEGER) WHEN 0 THEN 'jpeg'
        |   WHEN 1 THEN 'jpeg' WHEN 2 THEN 'png' WHEN 3 THEN 'gif'
        |   WHEN 4 THEN 'bmp' WHEN 5 THEN 'webp' ELSE 'tiff' END AS format,
        | CAST(16 + (doc_id*7) % 240 AS INTEGER) AS width,
        | CAST(16 + (doc_id*3) % 240 AS INTEGER) AS height,
        | CAST(CASE WHEN doc_id % 7 = 0
        |     OR (doc_id % 7 = 6 AND (doc_id // 7) % 2 = 0)
        |   THEN 1 + doc_id % 8 ELSE NULL END AS INTEGER) AS orientation,
        | CAST(CASE WHEN doc_id % 7 IN (0, 1, 2, 6) THEN 8
        |   WHEN doc_id % 7 = 4 THEN
        |     CASE CAST((doc_id // 7) % 3 AS INTEGER)
        |       WHEN 0 THEN 24 WHEN 1 THEN 8 ELSE 32 END
        |   ELSE NULL END AS INTEGER) AS bit_depth
        |FROM documents""".stripMargin,

    // replay of Ebml.syntheticMkv's info and track formulas; EBML
    // encoding variation (vint widths, unknown-size segments, float
    // widths) is the engine's to erase
    "m30_mkv_tracks" ->
      """WITH d AS (SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'webm' ELSE 'matroska' END
        |    AS doc_type,
        |  CAST(1000000 AS BIGINT) AS timestamp_scale,
        |  CASE WHEN doc_id % 5 = 2 THEN NULL
        |    ELSE CAST(30000 + doc_id % 10000 AS BIGINT) END AS duration_ms,
        |  'graft_mux ' || CAST(doc_id % 7 AS VARCHAR) AS muxing_app
        | FROM documents)
        |SELECT doc_id, doc_type, timestamp_scale, duration_ms, muxing_app,
        | CAST(1 AS BIGINT) AS track_no, 'video' AS track_type,
        | CASE WHEN doc_id % 2 = 0 THEN 'V_VP9'
        |   ELSE 'V_MPEG4/ISO/AVC' END AS codec_id,
        | CAST(160 + (doc_id*7) % 1760 AS INTEGER) AS width,
        | CAST(120 + (doc_id*3) % 960 AS INTEGER) AS height,
        | CAST(NULL AS INTEGER) AS channels,
        | CAST(NULL AS INTEGER) AS sample_rate
        |FROM d WHERE doc_id % 5 <> 4
        |UNION ALL
        |SELECT doc_id, doc_type, timestamp_scale, duration_ms, muxing_app,
        | 2, 'audio',
        | CASE WHEN doc_id % 2 = 0 THEN 'A_OPUS' ELSE 'A_VORBIS' END,
        | NULL, NULL, CAST(1 + doc_id % 2 AS INTEGER),
        | CAST(CASE WHEN doc_id % 2 = 0 THEN 48000 ELSE 44100 END AS INTEGER)
        |FROM d""".stripMargin,

    // replay of Zip.syntheticZip's entry formulas; local_offset is the
    // running sum of 30-byte local headers + name + data, and the crc
    // field replay proves extraction (nothing decompresses, so the crc
    // is a stored field, not a recomputation)
    "m31_zip_entries" ->
      """WITH d AS (SELECT doc_id, CAST(1 + doc_id % 4 AS INTEGER) AS n
        |  FROM documents),
        |e AS (SELECT doc_id, CAST(unnest(range(0, n)) AS INTEGER) AS j
        |  FROM d),
        |s AS (SELECT doc_id, j,
        |  'f' || CAST(doc_id AS VARCHAR) || '_' || CAST(j AS VARCHAR)
        |    || '.txt' AS name,
        |  CASE WHEN j % 2 = 0 THEN 'stored' ELSE 'deflated' END AS method,
        |  CAST(CASE WHEN j % 2 = 0 THEN 20 + (doc_id + j) % 30
        |       ELSE 10 + (doc_id + j * 7) % 40 END AS BIGINT) AS comp_size,
        |  CAST(CASE WHEN j % 2 = 0 THEN 20 + (doc_id + j) % 30
        |       ELSE 50 + (doc_id * 3 + j) % 100 END AS BIGINT)
        |    AS uncomp_size,
        |  CAST((doc_id * 2654435761 + j * 40503) % 4294967296 AS BIGINT)
        |    AS crc32
        | FROM e)
        |SELECT doc_id, j AS entry_no, name, method, comp_size,
        |  uncomp_size, crc32,
        |  CAST(COALESCE(SUM(30 + length(name) + comp_size) OVER (
        |    PARTITION BY doc_id ORDER BY j
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS local_offset,
        |  CAST(CASE WHEN doc_id % 5 = 4 THEN 1 ELSE 0 END AS INTEGER)
        |    AS zip64
        |FROM s""".stripMargin,

    // replay of Zstd.syntheticZstd's frame formulas: per-frame header
    // byte accounting (magic + descriptor + window + dict + fcs +
    // per-block 3-byte headers + checksum) drives the offset cumsum,
    // so any stride slip in the walk shifts every later offset
    "m32_zstd_frames" ->
      """WITH d AS (SELECT doc_id, CAST(1 + doc_id % 3 AS INTEGER) AS n,
        |   (doc_id % 4 = 1) AS skip FROM documents),
        |zf AS (SELECT doc_id, n, skip,
        |   CAST(unnest(range(0, n)) AS INTEGER) AS f FROM d),
        |z AS (SELECT doc_id, n, skip, f,
        |   CAST(1 + (doc_id + f) % 2 AS INTEGER) AS nb,
        |   ((doc_id + f) % 5 = 0) AS ss,
        |   CAST((doc_id + f) % 4 AS INTEGER) AS dictflag,
        |   ((doc_id + f) % 3 = 0) AS cksum,
        |   CAST((doc_id + f) % 3 AS INTEGER) AS fcssel,
        |   CAST((doc_id + f) % 10 AS INTEGER) AS exp,
        |   CAST((doc_id * 3 + f) % 8 AS INTEGER) AS man
        | FROM zf),
        |zb AS (SELECT *,
        |   CAST(CASE WHEN (doc_id + f) % 2 = 0
        |        THEN 10 + (doc_id*3 + f*7) % 30
        |        ELSE 5 + (doc_id + f) % 20 END AS BIGINT) AS r0,
        |   CAST(CASE WHEN nb = 2 THEN 10 + (doc_id*3 + f*7 + 1) % 30
        |     ELSE 0 END AS BIGINT) AS r1
        | FROM z),
        |zc AS (SELECT *, r0 + r1 AS total,
        |   (3 + CASE WHEN (doc_id + f) % 2 = 0 THEN r0 ELSE 1 END)
        |   + CASE WHEN nb = 2 THEN 3 + r1 ELSE 0 END AS blockbytes,
        |   CASE WHEN dictflag = 0 THEN 0 WHEN dictflag = 1 THEN 1
        |        WHEN dictflag = 2 THEN 2 ELSE 4 END AS dictlen,
        |   CASE WHEN ss THEN 1 WHEN fcssel = 0 THEN 0
        |        WHEN fcssel = 1 THEN 4 ELSE 8 END AS fcslen
        | FROM zb),
        |zd AS (SELECT doc_id, f, skip, nb, ss, cksum, exp, man,
        |   dictflag, total,
        |   CAST(4 + 1 + CASE WHEN ss THEN 0 ELSE 1 END + dictlen + fcslen
        |     + blockbytes + CASE WHEN cksum THEN 4 ELSE 0 END AS BIGINT)
        |     AS fbytes,
        |   CASE WHEN ss OR fcssel <> 0 THEN total ELSE NULL END
        |     AS content_size,
        |   CASE WHEN ss THEN NULL ELSE (CAST(1 AS BIGINT) << (10 + exp))
        |     + ((CAST(1 AS BIGINT) << (10 + exp)) // 8) * man END
        |     AS window_size,
        |   CASE WHEN dictflag = 0 THEN NULL
        |        WHEN dictflag = 1 THEN 1 + doc_id % 200
        |        WHEN dictflag = 2 THEN 300 + doc_id % 60000
        |        ELSE 70000 + doc_id % 100000 END AS dict_id
        | FROM zc),
        |allf AS (
        |  SELECT doc_id, CAST(f + CASE WHEN skip AND f >= 1 THEN 1
        |      ELSE 0 END AS INTEGER) AS frame_no,
        |    'zstd' AS kind, fbytes AS frame_bytes, content_size,
        |    window_size, dict_id,
        |    CASE WHEN cksum THEN 1 ELSE 0 END AS has_checksum,
        |    nb AS n_blocks
        |  FROM zd
        |  UNION ALL
        |  SELECT doc_id, 1, 'skippable', CAST(16 + doc_id % 16 AS BIGINT),
        |    NULL, NULL, NULL, 0, 0
        |  FROM d WHERE skip
        |)
        |SELECT doc_id, frame_no, kind,
        |  CAST(COALESCE(SUM(frame_bytes) OVER (PARTITION BY doc_id
        |    ORDER BY frame_no
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS "offset",
        |  CAST(frame_bytes AS BIGINT) AS frame_bytes,
        |  CAST(content_size AS BIGINT) AS content_size,
        |  CAST(window_size AS BIGINT) AS window_size,
        |  CAST(dict_id AS BIGINT) AS dict_id,
        |  CAST(has_checksum AS INTEGER) AS has_checksum,
        |  CAST(n_blocks AS INTEGER) AS n_blocks
        |FROM allf""".stripMargin,

    // replay of Mp3.syntheticV1TaggedMp3's field formulas; the fixed-
    // width padding (NUL for most fields, space for artist) is the
    // engine's to trim; v1.1 ids (doc_id%3=0) carry the track byte
    "m33_id3v1_tags" ->
      """SELECT doc_id,
        | 'title_' || CAST((doc_id*7) % 1000 AS VARCHAR) AS title,
        | 'artist_' || CAST(doc_id % 50 AS VARCHAR) AS artist,
        | 'album_' || CAST(doc_id % 20 AS VARCHAR) AS album,
        | CAST(1970 + doc_id % 55 AS VARCHAR) AS "year",
        | 'c_' || CAST(doc_id % 100 AS VARCHAR) AS comment,
        | CAST(CASE WHEN doc_id % 3 = 0 THEN 1 + doc_id % 30
        |      ELSE NULL END AS INTEGER) AS track,
        | CAST(doc_id % 80 AS INTEGER) AS genre
        |FROM documents WHERE doc_id % 4 <> 3""".stripMargin,

    // first-principles replay of Gzip.syntheticGzip's member arithmetic:
    // stored-block deflate makes comp = ceil(len/40)*5 + len exact;
    // header = 10 + extra(2+xlen) + fname(9) + comment(4) + hcrc(2);
    // offsets are the running member-size sum
    "m34_gzip_members" ->
      """WITH d AS (SELECT doc_id, CAST(1 + doc_id % 3 AS INTEGER) AS n
        |  FROM documents),
        |m AS (SELECT doc_id, n, CAST(unnest(range(0, n)) AS INTEGER) AS mm
        |  FROM d),
        |f AS (SELECT doc_id, mm,
        |   CAST(30 + (doc_id*3 + mm*11) % 70 AS BIGINT) AS len,
        |   ((doc_id + mm) % 2 = 0) AS has_name,
        |   ((doc_id + mm) % 5 = 1) AS has_comment,
        |   ((doc_id + mm) % 3 = 0) AS has_extra,
        |   ((doc_id + mm) % 4 = 2) AS has_hcrc,
        |   CASE WHEN (doc_id + mm) % 7 = 3 THEN 1 ELSE 0 END AS ftext,
        |   CAST(4 + (doc_id + mm) % 10 AS BIGINT) AS xlen
        |  FROM m),
        |g AS (SELECT doc_id, mm, len, ftext,
        |   CASE WHEN has_name THEN 'f' || CAST(doc_id % 10 AS VARCHAR)
        |     || '_' || CAST(mm AS VARCHAR) || '.txt' END AS fname,
        |   CASE WHEN has_comment
        |     THEN 'gc' || CAST(doc_id % 10 AS VARCHAR) END AS comment,
        |   10 + CASE WHEN has_extra THEN 2 + xlen ELSE 0 END
        |     + CASE WHEN has_name THEN 9 ELSE 0 END
        |     + CASE WHEN has_comment THEN 4 ELSE 0 END
        |     + CASE WHEN has_hcrc THEN 2 ELSE 0 END
        |     + CAST(CEIL(len / 40.0) AS BIGINT) * 5 + len + 8 AS mbytes
        |  FROM f)
        |SELECT doc_id, CAST(mm AS INTEGER) AS member_no,
        |  CAST(COALESCE(SUM(mbytes) OVER (PARTITION BY doc_id ORDER BY mm
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS "offset",
        |  CAST(mbytes AS BIGINT) AS comp_bytes,
        |  CAST(len AS BIGINT) AS uncomp_bytes,
        |  fname, comment,
        |  CAST((doc_id*1000 + mm) % 4294967296 AS BIGINT) AS mtime,
        |  CAST((doc_id + mm) % 14 AS INTEGER) AS os,
        |  CAST(ftext AS INTEGER) AS ftext
        |FROM g""".stripMargin,

    // replay of Avro.syntheticAvro: single-byte varints by construction,
    // so header/offset arithmetic is LENGTH()-exact; blocks carry
    // formula row counts and byte sizes with a 16-byte sync each
    "m35_avro_blocks" ->
      """WITH d AS (SELECT doc_id,
        |   CAST(1 + doc_id % 4 AS INTEGER) AS n,
        |   '{"type":"record","name":"r' || CAST(doc_id % 10 AS VARCHAR)
        |     || '","fields":[]}' AS schema_json,
        |   CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'null'
        |     WHEN 1 THEN 'deflate' ELSE 'snappy' END AS codec,
        |   (doc_id % 4 = 1) AS extra
        |  FROM documents),
        |h AS (SELECT doc_id, n, schema_json, codec,
        |   4 + 1 + (1 + 11 + 1 + LENGTH(schema_json))
        |     + (1 + 10 + 1 + LENGTH(codec))
        |     + CASE WHEN extra THEN 1 + 6 + 1 + 2 ELSE 0 END
        |     + 1 + 16 AS header_len
        |  FROM d),
        |b AS (SELECT doc_id, schema_json, codec, header_len,
        |   CAST(unnest(range(0, n)) AS INTEGER) AS k
        |  FROM h),
        |c AS (SELECT doc_id, schema_json, codec, header_len, k,
        |   CAST(1 + (doc_id + k*3) % 30 AS BIGINT) AS n_rows,
        |   CAST(10 + (doc_id*5 + k*7) % 50 AS BIGINT) AS bbytes
        |  FROM b)
        |SELECT doc_id, CAST(k AS INTEGER) AS block_no,
        |  schema_json, codec,
        |  CAST(header_len + COALESCE(SUM(2 + bbytes + 16) OVER (
        |    PARTITION BY doc_id ORDER BY k
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS "offset",
        |  n_rows, CAST(bbytes AS BIGINT) AS block_bytes
        |FROM c""".stripMargin,

    // first-principles chained-Ogg packet oracle: replays
    // Ogg.syntheticChainedShape — shorts A(p) are packet 2p (1 page),
    // longs L(p) = open(p)·255-opening + rem(p)-closing are packet 2p+1
    // (2 pages, ending on page p+1), where open(p) = 1 + (id+p)%2 and
    // rem(p) is 0 on the exact-510 shape (open 2, (id+p)%5 = 0 — the
    // terminating-0 lacing) and 40 + ((id*5+p*7)%200) otherwise;
    // head/tail probe bytes derive from the page body formulas on either
    // side of the seam — a rem-0 long's LAST byte sits on the OPENING
    // page, not the closing one
    "m19_ogg_packets" ->
      """WITH d AS (SELECT doc_id, CAST(3 + doc_id % 4 AS INTEGER) AS np
        |  FROM documents),
        |p AS (SELECT doc_id, np, CAST(unnest(range(0, np)) AS INTEGER) AS pg
        |  FROM d),
        |base AS (SELECT doc_id, np, pg,
        |  CAST(60 + ((doc_id*11 + pg*17) % 90) AS BIGINT) AS a,
        |  CAST(1 + (doc_id + pg) % 2 AS BIGINT) AS opn,
        |  CAST(CASE WHEN (doc_id + pg) % 10 = 5 THEN 0
        |    ELSE 40 + ((doc_id*5 + pg*7) % 200) END AS BIGINT) AS r,
        |  CAST(CASE WHEN pg = 0 THEN 0
        |    WHEN (doc_id + pg - 1) % 10 = 5 THEN 0
        |    ELSE 40 + ((doc_id*5 + (pg-1)*7) % 200) END AS BIGINT) AS rprev
        | FROM p),
        |shorts AS (SELECT doc_id, CAST(2*pg AS INTEGER) AS packet_no,
        |  a AS psize, 1 AS n_pages, pg AS end_page,
        |  (doc_id + pg*131 + rprev) % 256 AS head_byte,
        |  (doc_id + pg*131 + rprev + a - 1) % 256 AS tail_byte FROM base),
        |longs AS (SELECT doc_id, CAST(2*pg + 1 AS INTEGER) AS packet_no,
        |  255*opn + r AS psize, 2 AS n_pages, pg + 1 AS end_page,
        |  (doc_id + pg*131 + rprev + a) % 256 AS head_byte,
        |  CASE WHEN r > 0 THEN (doc_id + (pg+1)*131 + r - 1) % 256
        |    ELSE (doc_id + pg*131 + rprev + a + 255*opn - 1) % 256
        |  END AS tail_byte
        | FROM base WHERE pg < np - 1)
        |SELECT doc_id, packet_no,
        | CAST(2000 + doc_id % 100 AS BIGINT) AS serial,
        | CAST(psize AS BIGINT) AS size,
        | CAST(n_pages AS INTEGER) AS n_pages,
        | CAST(end_page AS INTEGER) AS end_page,
        | CAST(head_byte AS INTEGER) AS head_byte,
        | CAST(tail_byte AS INTEGER) AS tail_byte
        |FROM (SELECT * FROM shorts UNION ALL SELECT * FROM longs)""".stripMargin,

    // first-principles muxed-Ogg oracle: replays Ogg.syntheticMuxedShape —
    // file page q = 2p+s (stream s, stream-page p); page 0/1 complete
    // the first shorts (packets 0/1), every later page q completes the
    // stream's long L_s(p-1) (packet 2q−2, spanning 2 stream pages) then
    // its short A_s(p) (packet 2q−1); body probes use the FILE page
    // number, so bytes wrongly pulled from the other stream's interleaved
    // page hash differently
    "m23_ogg_muxed" ->
      """WITH d AS (SELECT doc_id, CAST(2 + doc_id % 3 AS INTEGER) AS n
        |  FROM documents),
        |ds AS (SELECT doc_id, n, 0 AS s FROM d
        |  UNION ALL SELECT doc_id, n, 1 AS s FROM d),
        |sp AS (SELECT doc_id, n, s,
        |  CAST(unnest(range(0, n)) AS INTEGER) AS pg
        | FROM ds),
        |base AS (SELECT doc_id, n, s, pg, 2*pg + s AS q,
        |  CAST(CASE WHEN s = 0 THEN 50 + ((doc_id*7 + pg*13) % 80)
        |    ELSE 55 + ((doc_id*9 + pg*19) % 70) END AS BIGINT) AS a,
        |  CAST(CASE WHEN s = 0 THEN 30 + ((doc_id*3 + pg*11) % 100)
        |    ELSE 35 + ((doc_id*13 + pg*5) % 90) END AS BIGINT) AS r,
        |  CAST(CASE WHEN pg = 0 THEN 0
        |    WHEN s = 0 THEN 30 + ((doc_id*3 + (pg-1)*11) % 100)
        |    ELSE 35 + ((doc_id*13 + (pg-1)*5) % 90) END AS BIGINT) AS rprev
        | FROM sp),
        |shorts AS (SELECT doc_id, s,
        |  CASE WHEN q < 2 THEN q ELSE 2*q - 1 END AS packet_no,
        |  a AS psize, 1 AS n_pages, q AS end_page,
        |  (doc_id + q*131 + rprev) % 256 AS head_byte,
        |  (doc_id + q*131 + rprev + a - 1) % 256 AS tail_byte FROM base),
        |longs AS (SELECT doc_id, s,
        |  2*(q + 2) - 2 AS packet_no,
        |  255 + r AS psize, 2 AS n_pages, q + 2 AS end_page,
        |  (doc_id + q*131 + rprev + a) % 256 AS head_byte,
        |  (doc_id + (q + 2)*131 + r - 1) % 256 AS tail_byte
        | FROM base WHERE pg < n - 1)
        |SELECT doc_id, CAST(packet_no AS INTEGER) AS packet_no,
        | CAST(4000 + 100*s + doc_id % 100 AS BIGINT) AS serial,
        | CAST(psize AS BIGINT) AS size,
        | CAST(n_pages AS INTEGER) AS n_pages,
        | CAST(end_page AS INTEGER) AS end_page,
        | CAST(head_byte AS INTEGER) AS head_byte,
        | CAST(tail_byte AS INTEGER) AS tail_byte
        |FROM (SELECT * FROM shorts UNION ALL SELECT * FROM longs)""".stripMargin,

    // first-principles Ogg oracle: replays Ogg.syntheticShape — header is
    // 27 + n_segments where each packet contributes 1 lacing below 255
    // and 2 at/above; offsets accumulate page-by-page
    "m18_ogg_pages" ->
      """WITH d AS (SELECT doc_id, CAST(2 + doc_id % 5 AS INTEGER) AS np
        |  FROM documents),
        |p AS (SELECT doc_id, np, CAST(unnest(range(0, np)) AS INTEGER) AS pg
        |  FROM d),
        |k AS (SELECT doc_id, np, pg,
        |  CAST(1 + (doc_id + pg) % 3 AS INTEGER) AS nk FROM p),
        |pk AS (SELECT doc_id, np, pg, nk,
        |  CAST(unnest(range(0, nk)) AS INTEGER) AS kk FROM k),
        |sz AS (SELECT doc_id, np, pg, kk,
        |  CAST(50 + ((doc_id*31 + pg*17 + kk*7) % 230) AS BIGINT) AS psz
        | FROM pk),
        |pagg AS (SELECT doc_id, np, pg,
        |  CAST(count(*) AS INTEGER) AS n_packets,
        |  sum(psz) AS body,
        |  sum(1 + CASE WHEN psz >= 255 THEN 1 ELSE 0 END) AS nseg
        | FROM sz GROUP BY doc_id, np, pg),
        |o AS (SELECT doc_id, np, pg, n_packets, body, 27 + nseg AS hdr,
        |  COALESCE(SUM(27 + nseg + body) OVER (PARTITION BY doc_id
        |    ORDER BY pg ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    0) AS off
        | FROM pagg)
        |SELECT doc_id, CAST(pg AS INTEGER) AS page_no,
        | CAST(off AS BIGINT) AS "offset",
        | CAST(hdr AS INTEGER) AS header_bytes,
        | CAST(body AS BIGINT) AS body_bytes,
        | CAST((pg+1) * (100 + doc_id % 50) AS BIGINT) AS granule,
        | CAST(1000 + doc_id % 100 AS BIGINT) AS serial,
        | CAST(CASE WHEN pg = 0 THEN 1 ELSE 0 END AS INTEGER) AS bos,
        | CAST(CASE WHEN pg = np - 1 THEN 1 ELSE 0 END AS INTEGER) AS eos,
        | n_packets,
        | CAST((doc_id + pg*131) % 256 AS INTEGER) AS head_byte,
        | CAST((doc_id + pg*131 + body - 1) % 256 AS INTEGER) AS tail_byte
        |FROM o""".stripMargin,

    "m13_mp4_demux" ->
      """WITH d AS (SELECT doc_id, CAST(2 + doc_id % 7 AS INTEGER) AS n
        |  FROM documents),
        |f AS (SELECT doc_id, n,
        |  CAST(unnest(range(0, n)) AS INTEGER) AS frame_no FROM d),
        |s AS (SELECT doc_id, n, frame_no,
        |  CAST(50 + ((doc_id*31 + frame_no*17) % 64) AS BIGINT) AS size,
        |  CASE WHEN frame_no < 2 THEN 0
        |    ELSE 1 + (frame_no - 2) // 3 END AS chunk FROM f),
        |o AS (SELECT doc_id, n, frame_no, size,
        |  CAST(28 + COALESCE(SUM(size) OVER (PARTITION BY doc_id
        |      ORDER BY frame_no
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + 4*chunk AS BIGINT) AS "offset" FROM s)
        |SELECT doc_id, frame_no, "offset", size,
        | CAST(CASE WHEN frame_no % 4 = 0 THEN 1 ELSE 0 END AS INTEGER)
        |   AS keyframe,
        | CAST(CASE WHEN frame_no < n // 2 THEN 1000 + (doc_id % 5)*100
        |   ELSE 1200 END AS BIGINT) AS dur_ticks,
        | CAST(16*(1 + doc_id % 4) AS INTEGER) AS width,
        | CAST(16*(1 + doc_id % 3) AS INTEGER) AS height,
        | CAST((doc_id + frame_no*131) % 256 AS INTEGER) AS head_byte,
        | CAST((doc_id + frame_no*131 + size - 1) % 256 AS INTEGER)
        |   AS tail_byte
        |FROM o""".stripMargin)
}
