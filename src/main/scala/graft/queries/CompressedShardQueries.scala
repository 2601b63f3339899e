package graft.queries

import graft.core.{GraftQuery, Tables}
import graft.ops.{TextAnalysis => TA}
import org.apache.spark.sql.functions._
import TarQueries.{M, h60, sqlH60Mod, ascii, shardGroups, buildShard}

/** Compressed-JSONL shard codecs (zstd/lz4, xz/lzma-alone, snappy,
  * bzip2, brotli, the seekable-zstd range scan and the dictionary
  * trainer): the pure byte-codec family, split out of TarQueries in
  * round 17 the way the round-13 record/tensor splits went (registry
  * hygiene; query bodies byte-identical). The shard-group conventions
  * (bounded `doc_id DIV 8` groups, per-shard map, one small-keyed
  * rollup) live in [[TarQueries]] and are imported here.
  */
object CompressedShardQueries {

  val all: Seq[GraftQuery] = Seq(

    // ------------------------------------------------------------------
    // Compressed-JSONL shard round trip (the distribution format modern
    // crawl corpora actually ship: `.jsonl.zst`, with LZ4 frames as the
    // low-CPU hot-shard twin). Shards alternate codec by group parity,
    // the reader sniffs the frame magic ([[graft.ops.Zstd.decompressAny]])
    // — the mixed-codec directory case a long-lived corpus accumulates —
    // and every decompress is capped by Budget.maxInflatedBytes
    // mid-stream (zstd RLE blocks out-amplify DEFLATE's 1032:1). One
    // wrong byte through either codec breaks the per-class checksums.
    GraftQuery(
      "zst01_zstd_jsonl",
      (s, d) => {
        import s.implicits._
        shardGroups(s, d).flatMap { case (_, g, recs) =>
            val jsonl = recs.map { case (id, text, lang) =>
              s"""{"id":$id,"lang":${graft.etl.Json.quote(lang)},"text":${graft.etl.Json.quote(text)}}"""
            }.mkString("\n")
            val raw = ascii(jsonl)
            // rotate all three codecs a long-lived corpus directory
            // accumulates (round 12 adds gzip, incl. one CONCATENATED
            // two-member frame per third shard — the flush-point layout
            // .jsonl.gz dumps ship; first-member-only readers truncate)
            val frame = (g % 3) match {
              case 0 => graft.ops.Zstd.compress(raw)
              case 1 => graft.ops.Zstd.compressLz4(raw)
              case _ =>
                val cut = raw.length / 2
                graft.ops.Zstd.compressGzip(java.util.Arrays.copyOf(raw, cut)) ++
                  graft.ops.Zstd.compressGzip(
                    java.util.Arrays.copyOfRange(raw, cut, raw.length))
            }
            val back = new String(graft.ops.Zstd.decompressAny(frame),
              java.nio.charset.StandardCharsets.US_ASCII)
            back.split('\n').iterator.map { line =>
              val obj = graft.etl.Json.parse(line).asInstanceOf[graft.etl.JObj].fields.toMap
              val txt = obj("text").asInstanceOf[graft.etl.JStr].s
              (obj("lang").asInstanceOf[graft.etl.JStr].s, txt.length.toLong, txt)
            }
          }
          .toDF("lang", "txt_len", "txt")
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_samples"),
            sum(col("txt_len")).as("txt_bytes"),
            sum(TA.hash60(col("txt")) % M).as("txt_check"))
      },
      Some(s"""SELECT lang, count(*) AS n_samples,
          CAST(sum(length(text)) AS BIGINT) AS txt_bytes,
          CAST(sum(${sqlH60Mod("text")}) AS BIGINT) AS txt_check
        FROM documents GROUP BY 1"""),
    ),

    // ------------------------------------------------------------------
    // Fault-tolerant compressed-shard scan: a deterministic slice of
    // frames is poisoned (magic flip → bad_magic refusal; tail
    // truncation → bad_frame, caught by the codec's own integrity
    // checks mid-stream) and each rotten FRAME becomes one typed error
    // row; healthy shards still contribute exact counts and checksums.
    // The tar02/warc03/mm09 contract on the compression layer.
    GraftQuery(
      "zst02_poisoned_zstd",
      (s, d) => {
        import s.implicits._
        shardGroups(s, d).map { case (source, g, recs) =>
            val jsonl = recs.map { case (id, text, lang) =>
              s"""{"id":$id,"text":${graft.etl.Json.quote(text)}}"""
            }.mkString("\n")
            val raw = ascii(jsonl)
            val clean = if (g % 2 == 0) graft.ops.Zstd.compress(raw)
                        else graft.ops.Zstd.compressLz4(raw)
            val frame = (h60(s"$source:$g") % 7) match {
              case 0 => val b = clean.clone(); b(0) = (b(0) ^ 0x5a).toByte; b
              case 1 => java.util.Arrays.copyOf(clean, clean.length - 9)
              case _ => clean
            }
            graft.ops.Zstd.decompressAnySafe(frame) match {
              case Right(bytes) =>
                val lines = new String(bytes,
                  java.nio.charset.StandardCharsets.US_ASCII).split('\n')
                val bc = lines.iterator.map { line =>
                  val obj = graft.etl.Json.parse(line).asInstanceOf[graft.etl.JObj].fields.toMap
                  h60(obj("text").asInstanceOf[graft.etl.JStr].s) % M
                }.sum
                (source, "ok", lines.length.toLong, bc)
              case Left(kind) => (source, kind, 0L, 0L)
            }
          }
          .toDF("source", "outcome", "n_docs", "bc")
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_shards"),
            count(when(col("outcome") === "ok", lit(1))).as("n_ok"),
            count(when(col("outcome") === "bad_magic", lit(1))).as("n_magic"),
            count(when(col("outcome") === "bad_frame", lit(1))).as("n_frame"),
            sum(when(col("outcome") === "ok", col("n_docs")).otherwise(0L))
              .as("docs_ok"),
            sum(when(col("outcome") === "ok", col("bc")).otherwise(0L))
              .as("txt_check"))
      },
      Some(s"""WITH g AS (SELECT source, doc_id // 8 AS g, count(*) AS n,
            CAST(sum(${sqlH60Mod("text")}) AS BIGINT) AS bc
          FROM documents GROUP BY 1, 2),
        c AS (SELECT source, n, bc,
            ${TA.Sql.hash60("source || ':' || CAST(g AS VARCHAR)")} % 7 AS p
          FROM g)
        SELECT source, count(*) AS n_shards,
          count(CASE WHEN p >= 2 THEN 1 END) AS n_ok,
          count(CASE WHEN p = 0 THEN 1 END) AS n_magic,
          count(CASE WHEN p = 1 THEN 1 END) AS n_frame,
          CAST(sum(CASE WHEN p >= 2 THEN n ELSE 0 END) AS BIGINT) AS docs_ok,
          CAST(sum(CASE WHEN p >= 2 THEN bc ELSE 0 END) AS BIGINT) AS txt_check
        FROM c GROUP BY 1"""),
    ),

    // ------------------------------------------------------------------
    // xz shard round trip: the tukaani reference encoder writes (rotating
    // preset and integrity-check type — CRC32 / CRC64 / SHA-256, the
    // layouts real `.jsonl.xz` dumps ship), the [[graft.ops.Xz]] reader
    // decodes (our xz container walk over xz-java's LZMA2 decoder). One
    // wrong byte through the range coder breaks the per-class checksums.
    GraftQuery(
      "xz01_xz_jsonl",
      (s, d) => {
        import s.implicits._
        shardGroups(s, d).flatMap { case (_, g, recs) =>
            val jsonl = recs.map { case (id, text, lang) =>
              s"""{"id":$id,"lang":${graft.etl.Json.quote(lang)},"text":${graft.etl.Json.quote(text)}}"""
            }.mkString("\n")
            val raw = ascii(jsonl)
            val frame = (g % 3) match {
              case 0 => graft.ops.Xz.compress(raw, 1, 1)  // CRC32
              case 1 => graft.ops.Xz.compress(raw, 6, 4)  // CRC64
              case _ => graft.ops.Xz.compress(raw, 0, 10) // SHA-256
            }
            val back = new String(graft.ops.Xz.decompress(frame),
              java.nio.charset.StandardCharsets.US_ASCII)
            back.split('\n').iterator.map { line =>
              val obj = graft.etl.Json.parse(line).asInstanceOf[graft.etl.JObj].fields.toMap
              val txt = obj("text").asInstanceOf[graft.etl.JStr].s
              (obj("lang").asInstanceOf[graft.etl.JStr].s, txt.length.toLong, txt)
            }
          }
          .toDF("lang", "txt_len", "txt")
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_samples"),
            sum(col("txt_len")).as("txt_bytes"),
            sum(TA.hash60(col("txt")) % M).as("txt_check"))
      },
      Some(s"""SELECT lang, count(*) AS n_samples,
          CAST(sum(length(text)) AS BIGINT) AS txt_bytes,
          CAST(sum(${sqlH60Mod("text")}) AS BIGINT) AS txt_check
        FROM documents GROUP BY 1"""),
    ),

    // ------------------------------------------------------------------
    // Legacy `.lzma` (LZMA_ALONE) shard round trip: pre-xz dumps ship
    // this container (no magic, 13-byte header, raw LZMA body). Shards
    // alternate the size-declared layout (what the tukaani reference
    // encoder writes) and the unknown-size end-marker layout (what
    // liblzma/CPython always write) — both through xz-java's LZMA
    // decoder, sized by the header or ended by the marker.
    GraftQuery(
      "xz03_alone_jsonl",
      (s, d) => {
        import s.implicits._
        shardGroups(s, d).flatMap { case (_, g, recs) =>
            val jsonl = recs.map { case (id, text, lang) =>
              s"""{"id":$id,"lang":${graft.etl.Json.quote(lang)},"text":${graft.etl.Json.quote(text)}}"""
            }.mkString("\n")
            val raw = ascii(jsonl)
            val frame = graft.ops.Xz.compressAlone(raw, 1, sizeKnown = g % 2 == 0)
            val back = new String(graft.ops.Xz.decompressAlone(frame),
              java.nio.charset.StandardCharsets.US_ASCII)
            back.split('\n').iterator.map { line =>
              val obj = graft.etl.Json.parse(line).asInstanceOf[graft.etl.JObj].fields.toMap
              val txt = obj("text").asInstanceOf[graft.etl.JStr].s
              (obj("lang").asInstanceOf[graft.etl.JStr].s, txt.length.toLong, txt)
            }
          }
          .toDF("lang", "txt_len", "txt")
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_samples"),
            sum(col("txt_len")).as("txt_bytes"),
            sum(TA.hash60(col("txt")) % M).as("txt_check"))
      },
      Some(s"""SELECT lang, count(*) AS n_samples,
          CAST(sum(length(text)) AS BIGINT) AS txt_bytes,
          CAST(sum(${sqlH60Mod("text")}) AS BIGINT) AS txt_check
        FROM documents GROUP BY 1"""),
    ),

    // ------------------------------------------------------------------
    // Fault-tolerant xz shard scan: magic flip → bad_magic; tail
    // truncation → bad_frame (footer/index walk refuses before any byte
    // is trusted); each rotten stream is one typed error row, healthy
    // shards contribute exact counts and checksums. The zst02/bz02
    // contract on the xz layer.
    GraftQuery(
      "xz02_poisoned_xz",
      (s, d) => {
        import s.implicits._
        shardGroups(s, d).map { case (source, g, recs) =>
            val jsonl = recs.map { case (id, text, lang) =>
              s"""{"id":$id,"text":${graft.etl.Json.quote(text)}}"""
            }.mkString("\n")
            val raw = ascii(jsonl)
            val clean = graft.ops.Xz.compress(raw, 1, if (g % 2 == 0) 1 else 4)
            val frame = (h60(s"$source:$g") % 7) match {
              case 0 => val b = clean.clone(); b(0) = (b(0) ^ 0x5a).toByte; b
              case 1 => java.util.Arrays.copyOf(clean, clean.length - 7)
              case _ => clean
            }
            graft.ops.Xz.decompressSafe(frame) match {
              case Right(bytes) =>
                val lines = new String(bytes,
                  java.nio.charset.StandardCharsets.US_ASCII).split('\n')
                val bc = lines.iterator.map { line =>
                  val obj = graft.etl.Json.parse(line).asInstanceOf[graft.etl.JObj].fields.toMap
                  h60(obj("text").asInstanceOf[graft.etl.JStr].s) % M
                }.sum
                (source, "ok", lines.length.toLong, bc)
              case Left(kind) => (source, kind, 0L, 0L)
            }
          }
          .toDF("source", "outcome", "n_docs", "bc")
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_shards"),
            count(when(col("outcome") === "ok", lit(1))).as("n_ok"),
            count(when(col("outcome") === "bad_magic", lit(1))).as("n_magic"),
            count(when(col("outcome") === "bad_frame", lit(1))).as("n_frame"),
            sum(when(col("outcome") === "ok", col("n_docs")).otherwise(0L))
              .as("docs_ok"),
            sum(when(col("outcome") === "ok", col("bc")).otherwise(0L))
              .as("txt_check"))
      },
      Some(s"""WITH g AS (SELECT source, doc_id // 8 AS g, count(*) AS n,
            CAST(sum(${sqlH60Mod("text")}) AS BIGINT) AS bc
          FROM documents GROUP BY 1, 2),
        c AS (SELECT source, n, bc,
            ${TA.Sql.hash60("source || ':' || CAST(g AS VARCHAR)")} % 7 AS p
          FROM g)
        SELECT source, count(*) AS n_shards,
          count(CASE WHEN p >= 2 THEN 1 END) AS n_ok,
          count(CASE WHEN p = 0 THEN 1 END) AS n_magic,
          count(CASE WHEN p = 1 THEN 1 END) AS n_frame,
          CAST(sum(CASE WHEN p >= 2 THEN n ELSE 0 END) AS BIGINT) AS docs_ok,
          CAST(sum(CASE WHEN p >= 2 THEN bc ELSE 0 END) AS BIGINT) AS txt_check
        FROM c GROUP BY 1"""),
    ),

    // ------------------------------------------------------------------
    // Dictionary-compressed per-RECORD zstd (round 13): the random-access
    // corpus layout — each document is its own tiny frame (seekable
    // without decompressing a shard), which only compresses well with a
    // shared ZDICT dictionary. The dictionary is trained ONCE on a
    // deterministic bounded sample (256 docs by doc_id — a driver-side
    // collect of ~100 KB at ANY corpus size), broadcast, and each
    // partition loads it into reused native contexts (one ctx pair per
    // partition, not per record — the zstd-jni allocation lesson from
    // round 12). DuckDB recomputes the checksum from the raw table: a
    // wrong byte through train/compress/decompress breaks it.
    GraftQuery(
      "zst03_dict_jsonl",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
          .select(col("source"), col("doc_id"), col("text"))
          .as[(String, Long, String)]
        val sample = docs.filter(_._2 < 256).collect().sortBy(_._2)
          .map(_._3.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
        val dictBuf = new Array[Byte](16 * 1024)
        val dictLen = com.github.luben.zstd.Zstd.trainFromBuffer(sample, dictBuf)
        val dictBytes =
          if (dictLen > 0 && !com.github.luben.zstd.Zstd.isError(dictLen))
            java.util.Arrays.copyOf(dictBuf, dictLen.toInt)
          else Array.emptyByteArray // degenerate corpus: dict-less frames
        val dictB = s.sparkContext.broadcast(dictBytes)
        docs.mapPartitions { it =>
          val cctx = new com.github.luben.zstd.ZstdCompressCtx()
          cctx.setLevel(3)
          val dctx = new com.github.luben.zstd.ZstdDecompressCtx()
          if (dictB.value.nonEmpty) { cctx.loadDict(dictB.value); dctx.loadDict(dictB.value) }
          Option(org.apache.spark.TaskContext.get()).foreach(
            _.addTaskCompletionListener[Unit] { _ => cctx.close(); dctx.close() })
          it.map { case (source, id, text) =>
            val raw = text.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
            val frame = cctx.compress(raw)
            val back = dctx.decompress(frame, raw.length)
            val ok = java.util.Arrays.equals(back, raw)
            (source, if (ok) 1L else 0L,
              h60(new String(back, java.nio.charset.StandardCharsets.US_ASCII)) % M)
          }
        }.toDF("source", "ok", "bc")
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("ok")).as("n_roundtrip"),
            sum(col("bc")).as("txt_check"))
      },
      Some(s"""SELECT source, count(*) AS n_docs, count(*) AS n_roundtrip,
          CAST(sum(${sqlH60Mod("text")}) AS BIGINT) AS txt_check
        FROM documents GROUP BY 1"""),
    ),

    // ------------------------------------------------------------------
    // snappy framed-shard round trip through the hand-rolled codec (the
    // Hadoop-ecosystem `.sz` intermediate-shard layout): 64 KiB chunks
    // with masked CRC32C, every third shard two CONCATENATED framed
    // streams (a second stream-identifier chunk mid-file is legal and
    // must restart cleanly). One wrong byte through the tag walk breaks
    // the per-class checksums.
    GraftQuery(
      "sn01_snappy_jsonl",
      (s, d) => {
        import s.implicits._
        shardGroups(s, d).flatMap { case (_, g, recs) =>
            val jsonl = recs.map { case (id, text, lang) =>
              s"""{"id":$id,"lang":${graft.etl.Json.quote(lang)},"text":${graft.etl.Json.quote(text)}}"""
            }.mkString("\n")
            val raw = ascii(jsonl)
            val frame =
              if (g % 3 == 2) {
                val cut = raw.length / 2
                graft.ops.Snappy.compress(java.util.Arrays.copyOf(raw, cut)) ++
                  graft.ops.Snappy.compress(
                    java.util.Arrays.copyOfRange(raw, cut, raw.length))
              } else graft.ops.Snappy.compress(raw)
            val back = new String(graft.ops.Snappy.decompress(frame),
              java.nio.charset.StandardCharsets.US_ASCII)
            back.split('\n').iterator.map { line =>
              val obj = graft.etl.Json.parse(line).asInstanceOf[graft.etl.JObj].fields.toMap
              val txt = obj("text").asInstanceOf[graft.etl.JStr].s
              (obj("lang").asInstanceOf[graft.etl.JStr].s, txt.length.toLong, txt)
            }
          }
          .toDF("lang", "txt_len", "txt")
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_samples"),
            sum(col("txt_len")).as("txt_bytes"),
            sum(TA.hash60(col("txt")) % M).as("txt_check"))
      },
      Some(s"""SELECT lang, count(*) AS n_samples,
          CAST(sum(length(text)) AS BIGINT) AS txt_bytes,
          CAST(sum(${sqlH60Mod("text")}) AS BIGINT) AS txt_check
        FROM documents GROUP BY 1"""),
    ),

    // ------------------------------------------------------------------
    // Fault-tolerant snappy shard scan: the zst02/bz02/xz02 contract on
    // the snappy framing layer (magic flip → bad_magic; truncation →
    // bad_frame via the chunk walk / CRC32C).
    GraftQuery(
      "sn02_poisoned_snappy",
      (s, d) => {
        import s.implicits._
        shardGroups(s, d).map { case (source, g, recs) =>
            val jsonl = recs.map { case (id, text, lang) =>
              s"""{"id":$id,"text":${graft.etl.Json.quote(text)}}"""
            }.mkString("\n")
            val clean = graft.ops.Snappy.compress(ascii(jsonl))
            val frame = (h60(s"$source:$g") % 7) match {
              case 0 => val b = clean.clone(); b(0) = (b(0) ^ 0x5a).toByte; b
              case 1 => java.util.Arrays.copyOf(clean, clean.length - 5)
              case _ => clean
            }
            graft.ops.Snappy.decompressSafe(frame) match {
              case Right(bytes) =>
                val lines = new String(bytes,
                  java.nio.charset.StandardCharsets.US_ASCII).split('\n')
                val bc = lines.iterator.map { line =>
                  val obj = graft.etl.Json.parse(line).asInstanceOf[graft.etl.JObj].fields.toMap
                  h60(obj("text").asInstanceOf[graft.etl.JStr].s) % M
                }.sum
                (source, "ok", lines.length.toLong, bc)
              case Left(kind) => (source, kind, 0L, 0L)
            }
          }
          .toDF("source", "outcome", "n_docs", "bc")
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_shards"),
            count(when(col("outcome") === "ok", lit(1))).as("n_ok"),
            count(when(col("outcome") === "bad_magic", lit(1))).as("n_magic"),
            count(when(col("outcome") === "bad_frame", lit(1))).as("n_frame"),
            sum(when(col("outcome") === "ok", col("n_docs")).otherwise(0L))
              .as("docs_ok"),
            sum(when(col("outcome") === "ok", col("bc")).otherwise(0L))
              .as("txt_check"))
      },
      Some(s"""WITH g AS (SELECT source, doc_id // 8 AS g, count(*) AS n,
            CAST(sum(${sqlH60Mod("text")}) AS BIGINT) AS bc
          FROM documents GROUP BY 1, 2),
        c AS (SELECT source, n, bc,
            ${TA.Sql.hash60("source || ':' || CAST(g AS VARCHAR)")} % 7 AS p
          FROM g)
        SELECT source, count(*) AS n_shards,
          count(CASE WHEN p >= 2 THEN 1 END) AS n_ok,
          count(CASE WHEN p = 0 THEN 1 END) AS n_magic,
          count(CASE WHEN p = 1 THEN 1 END) AS n_frame,
          CAST(sum(CASE WHEN p >= 2 THEN n ELSE 0 END) AS BIGINT) AS docs_ok,
          CAST(sum(CASE WHEN p >= 2 THEN bc ELSE 0 END) AS BIGINT) AS txt_check
        FROM c GROUP BY 1"""),
    ),

    // ------------------------------------------------------------------
    // bzip2 shard round trip through commons-compress (the container
    // long-lived public dumps ship: Wikipedia `.xml.bz2`, pbzip2 output).
    // Shards rotate the block-size level, and every third shard is TWO
    // CONCATENATED streams (the pbzip2 / flush-point layout) — readers
    // that stop at the first footer silently truncate, the same failure
    // class the gzip member walk refuses. One wrong byte anywhere in
    // RLE1/BWT/MTF/Huffman breaks the per-class checksums.
    GraftQuery(
      "bz01_bzip2_jsonl",
      (s, d) => {
        import s.implicits._
        shardGroups(s, d).flatMap { case (_, g, recs) =>
            val jsonl = recs.map { case (id, text, lang) =>
              s"""{"id":$id,"lang":${graft.etl.Json.quote(lang)},"text":${graft.etl.Json.quote(text)}}"""
            }.mkString("\n")
            val raw = ascii(jsonl)
            val frame = (g % 3) match {
              case 0 => graft.ops.Bzip2.compress(raw, 1)
              case 1 => graft.ops.Bzip2.compress(raw, 9)
              case _ =>
                val cut = raw.length / 2
                graft.ops.Bzip2.compress(java.util.Arrays.copyOf(raw, cut), 1) ++
                  graft.ops.Bzip2.compress(
                    java.util.Arrays.copyOfRange(raw, cut, raw.length), 1)
            }
            val back = new String(graft.ops.Bzip2.decompress(frame),
              java.nio.charset.StandardCharsets.US_ASCII)
            back.split('\n').iterator.map { line =>
              val obj = graft.etl.Json.parse(line).asInstanceOf[graft.etl.JObj].fields.toMap
              val txt = obj("text").asInstanceOf[graft.etl.JStr].s
              (obj("lang").asInstanceOf[graft.etl.JStr].s, txt.length.toLong, txt)
            }
          }
          .toDF("lang", "txt_len", "txt")
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_samples"),
            sum(col("txt_len")).as("txt_bytes"),
            sum(TA.hash60(col("txt")) % M).as("txt_check"))
      },
      Some(s"""SELECT lang, count(*) AS n_samples,
          CAST(sum(length(text)) AS BIGINT) AS txt_bytes,
          CAST(sum(${sqlH60Mod("text")}) AS BIGINT) AS txt_check
        FROM documents GROUP BY 1"""),
    ),

    // ------------------------------------------------------------------
    // Fault-tolerant bzip2 shard scan: a deterministic slice of streams
    // is poisoned (magic flip → bad_magic; tail truncation → bad_frame,
    // caught by the bitstream walk / CRC before any byte is trusted) and
    // each rotten stream becomes one typed error row; healthy shards
    // still contribute exact counts and checksums. The zst02 contract on
    // the bzip2 layer.
    GraftQuery(
      "bz02_poisoned_bzip2",
      (s, d) => {
        import s.implicits._
        shardGroups(s, d).map { case (source, g, recs) =>
            val jsonl = recs.map { case (id, text, lang) =>
              s"""{"id":$id,"text":${graft.etl.Json.quote(text)}}"""
            }.mkString("\n")
            val raw = ascii(jsonl)
            val clean = graft.ops.Bzip2.compress(raw, if (g % 2 == 0) 1 else 9)
            val frame = (h60(s"$source:$g") % 7) match {
              case 0 => val b = clean.clone(); b(0) = (b(0) ^ 0x5a).toByte; b
              case 1 => java.util.Arrays.copyOf(clean, clean.length - 6)
              case _ => clean
            }
            graft.ops.Bzip2.decompressSafe(frame) match {
              case Right(bytes) =>
                val lines = new String(bytes,
                  java.nio.charset.StandardCharsets.US_ASCII).split('\n')
                val bc = lines.iterator.map { line =>
                  val obj = graft.etl.Json.parse(line).asInstanceOf[graft.etl.JObj].fields.toMap
                  h60(obj("text").asInstanceOf[graft.etl.JStr].s) % M
                }.sum
                (source, "ok", lines.length.toLong, bc)
              case Left(kind) => (source, kind, 0L, 0L)
            }
          }
          .toDF("source", "outcome", "n_docs", "bc")
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_shards"),
            count(when(col("outcome") === "ok", lit(1))).as("n_ok"),
            count(when(col("outcome") === "bad_magic", lit(1))).as("n_magic"),
            count(when(col("outcome") === "bad_frame", lit(1))).as("n_frame"),
            sum(when(col("outcome") === "ok", col("n_docs")).otherwise(0L))
              .as("docs_ok"),
            sum(when(col("outcome") === "ok", col("bc")).otherwise(0L))
              .as("txt_check"))
      },
      Some(s"""WITH g AS (SELECT source, doc_id // 8 AS g, count(*) AS n,
            CAST(sum(${sqlH60Mod("text")}) AS BIGINT) AS bc
          FROM documents GROUP BY 1, 2),
        c AS (SELECT source, n, bc,
            ${TA.Sql.hash60("source || ':' || CAST(g AS VARCHAR)")} % 7 AS p
          FROM g)
        SELECT source, count(*) AS n_shards,
          count(CASE WHEN p >= 2 THEN 1 END) AS n_ok,
          count(CASE WHEN p = 0 THEN 1 END) AS n_magic,
          count(CASE WHEN p = 1 THEN 1 END) AS n_frame,
          CAST(sum(CASE WHEN p >= 2 THEN n ELSE 0 END) AS BIGINT) AS docs_ok,
          CAST(sum(CASE WHEN p >= 2 THEN bc ELSE 0 END) AS BIGINT) AS txt_check
        FROM c GROUP BY 1"""),
    ),

    // ------------------------------------------------------------------
    // Zstd SEEKABLE archives (round 14): the random-access layout for
    // big compressed shards (facebook/zstd contrib format — bounded
    // frames + a skippable-frame seek table). Each shard becomes a
    // seekable archive with 512-byte frames; the query serves a narrow
    // byte range per shard through the seek table and PROVES the
    // skipping: frames_read (covering frames only) and n_frames both
    // aggregate, and the oracle recomputes the slice, the frame
    // arithmetic, and the totals straight from the payload — a reader
    // that silently replays from the start would still match the slice
    // but fail frames_read. Scale: this is how "read bytes [a,b) of a
    // 2 GB shard" stays O(range) instead of O(shard) at 100 TB.
    GraftQuery(
      "zst04_seekable_range",
      (s, d) => {
        import s.implicits._
        shardGroups(s, d).map { case (source, _, recs) =>
            val payload = recs.map { case (id, text, _) => s"doc $id $text" }
              .mkString("\n")
            val raw = ascii(payload)
            val arch = graft.ops.ZstdSeekable.compress(raw, frameSize = 512)
            val table = graft.ops.ZstdSeekable.seekTable(arch)
            val off = raw.length / 3
            val len = math.min(64, raw.length - off)
            val (got, framesRead) = graft.ops.ZstdSeekable.readRange(arch, table, off, len)
            (source, raw.length.toLong,
              h60(new String(got, java.nio.charset.StandardCharsets.US_ASCII)) % M,
              framesRead.toLong, table.numFrames.toLong)
          }
          .toDF("source", "bytes", "slice_check", "frames_read", "n_frames")
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_shards"),
            sum(col("bytes")).as("bytes_total"),
            sum(col("slice_check")).as("slices_check"),
            sum(col("frames_read")).as("frames_read"),
            sum(col("n_frames")).as("frames_total"))
      },
      Some(s"""WITH g AS (SELECT source, doc_id // 8 AS g,
            string_agg('doc ' || CAST(doc_id AS VARCHAR) || ' ' || text,
              chr(10) ORDER BY doc_id) AS payload
          FROM documents GROUP BY 1, 2),
        x AS (SELECT source, length(payload) AS bytes,
            length(payload) // 3 AS o,
            least(64, length(payload) - length(payload) // 3) AS l,
            payload
          FROM g),
        f AS (SELECT source, bytes,
            ${sqlH60Mod("substring(payload, o + 1, l)")} AS slice_check,
            (o + l - 1) // 512 - o // 512 + 1 AS frames_read,
            (bytes - 1) // 512 + 1 AS n_frames
          FROM x)
        SELECT source, count(*) AS n_shards,
          CAST(sum(bytes) AS BIGINT) AS bytes_total,
          CAST(sum(slice_check) AS BIGINT) AS slices_check,
          CAST(sum(frames_read) AS BIGINT) AS frames_read,
          CAST(sum(n_frames) AS BIGINT) AS frames_total
        FROM f GROUP BY 1"""),
    ),

    // ------------------------------------------------------------------
    // Brotli shard round trip (round 14): `.jsonl.br` dumps and
    // `Content-Encoding: br` crawl bodies are the one common web-corpus
    // compression the codec matrix lacked. The writer emits uncompressed
    // meta-blocks (valid RFC 7932 §9.2 — no independent JVM encoder
    // exists here; BrotliSpec pins the writer byte-exact against a
    // libbrotli-validated construction and the READER against reference
    // streams at q1/5/9/11 with dictionary transforms). Round trip runs
    // the real header walk, MLEN accounting, and trailing-garbage gate
    // per shard. Scale: per-shard map, one small-keyed aggregate.
    GraftQuery(
      "br01_brotli_jsonl",
      (s, d) => {
        import s.implicits._
        shardGroups(s, d).flatMap { case (_, _, recs) =>
            val jsonl = recs.map { case (id, text, lang) =>
              s"""{"id":$id,"lang":${graft.etl.Json.quote(lang)},"text":${graft.etl.Json.quote(text)}}"""
            }.mkString("\n")
            val frame = graft.ops.Brotli.compress(ascii(jsonl))
            val back = new String(graft.ops.Brotli.decompress(frame),
              java.nio.charset.StandardCharsets.US_ASCII)
            back.split('\n').iterator.map { line =>
              val obj = graft.etl.Json.parse(line).asInstanceOf[graft.etl.JObj].fields.toMap
              val txt = obj("text").asInstanceOf[graft.etl.JStr].s
              (obj("lang").asInstanceOf[graft.etl.JStr].s, txt.length.toLong, txt)
            }
          }
          .toDF("lang", "txt_len", "txt")
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_samples"),
            sum(col("txt_len")).as("txt_bytes"),
            sum(TA.hash60(col("txt")) % M).as("txt_check"))
      },
      Some(s"""SELECT lang, count(*) AS n_samples,
          CAST(sum(length(text)) AS BIGINT) AS txt_bytes,
          CAST(sum(${sqlH60Mod("text")}) AS BIGINT) AS txt_check
        FROM documents GROUP BY 1"""),
    ),

    // ------------------------------------------------------------------
    // Fault-tolerant brotli shard scan: brotli has NO magic or checksum,
    // so the poisons target what the format CAN refuse — trailing bytes
    // after the final meta-block and truncation mid-block — and each
    // rotten stream becomes one typed `bad_frame` row while healthy
    // shards contribute exact counts and checksums. The zst02/bz02
    // contract on the brotli layer.
    GraftQuery(
      "br02_poisoned_brotli",
      (s, d) => {
        import s.implicits._
        shardGroups(s, d).map { case (source, g, recs) =>
            val jsonl = recs.map { case (id, text, lang) =>
              s"""{"id":$id,"text":${graft.etl.Json.quote(text)}}"""
            }.mkString("\n")
            val clean = graft.ops.Brotli.compress(ascii(jsonl))
            val frame = (h60(s"$source:$g") % 7) match {
              case 0 => clean :+ 0x41.toByte
              case 1 => java.util.Arrays.copyOf(clean, clean.length - 3)
              case _ => clean
            }
            graft.ops.Brotli.decompressSafe(frame) match {
              case Right(bytes) =>
                val lines = new String(bytes,
                  java.nio.charset.StandardCharsets.US_ASCII).split('\n')
                val bc = lines.iterator.map { line =>
                  val obj = graft.etl.Json.parse(line).asInstanceOf[graft.etl.JObj].fields.toMap
                  h60(obj("text").asInstanceOf[graft.etl.JStr].s) % M
                }.sum
                (source, "ok", lines.length.toLong, bc)
              case Left(kind) => (source, kind, 0L, 0L)
            }
          }
          .toDF("source", "outcome", "n_docs", "bc")
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_shards"),
            count(when(col("outcome") === "ok", lit(1))).as("n_ok"),
            count(when(col("outcome") === "bad_frame", lit(1))).as("n_frame"),
            sum(when(col("outcome") === "ok", col("n_docs")).otherwise(0L))
              .as("docs_ok"),
            sum(when(col("outcome") === "ok", col("bc")).otherwise(0L))
              .as("txt_check"))
      },
      Some(s"""WITH g AS (SELECT source, doc_id // 8 AS g, count(*) AS n,
            CAST(sum(${sqlH60Mod("text")}) AS BIGINT) AS bc
          FROM documents GROUP BY 1, 2),
        c AS (SELECT source, n, bc,
            ${TA.Sql.hash60("source || ':' || CAST(g AS VARCHAR)")} % 7 AS p
          FROM g)
        SELECT source, count(*) AS n_shards,
          count(CASE WHEN p >= 2 THEN 1 END) AS n_ok,
          count(CASE WHEN p <= 1 THEN 1 END) AS n_frame,
          CAST(sum(CASE WHEN p >= 2 THEN n ELSE 0 END) AS BIGINT) AS docs_ok,
          CAST(sum(CASE WHEN p >= 2 THEN bc ELSE 0 END) AS BIGINT) AS txt_check
        FROM c GROUP BY 1"""),
    ),

  )
}
