package graft.operators

import graft.{Op, Tables}
import org.apache.spark.sql.functions._

/** SURVEY §2.2 multimodal-column operators.
  *
  * Media payloads are opaque BINARY columns with typed metadata structs.
  * The decode step is STUBBED deterministically (no image/audio libraries
  * in this container): `stubDecodeHeader` stands in for e.g. a JPEG header
  * parse. Everything around the stub — binary column handling, typed
  * Dataset batch iteration via mapPartitions (the Scala analog of a
  * mapInPandas batch UDF: one iterator per partition, amortizing decoder
  * init across rows), schema, partitioning — is real and spec-tested.
  *
  * No DuckDB oracle (binary processing isn't portably SQL-expressible);
  * the driver records rows-only checks and MultimodalSpec covers values.
  */
object Multimodal {

  case class MediaRow(doc_id: Long, payload: Array[Byte])
  case class MediaMeta(doc_id: Long, n_bytes: Int, magic: String,
      width: Int, height: Int, format: String)
  case class Frame(doc_id: Long, frame_idx: Int, byte_offset: Int, frame_md5: String)

  /** Deterministic fake of a media-header decode: derives dimensions from
    * payload bytes the way a real decoder would read them from the header.
    * Replace with a real codec binding in production.
    */
  private def stubDecodeHeader(payload: Array[Byte]): (Int, Int, String) = {
    val b0 = if (payload.nonEmpty) payload(0) & 0xff else 0
    val b1 = if (payload.length > 1) payload(1) & 0xff else 0
    val width = 16 * (1 + (b0 % 40))           // 16..640
    val height = 16 * (1 + (b1 % 30))          // 16..480
    val format = (b0 % 3) match {
      case 0 => "jpeg"; case 1 => "png"; case _ => "webp"
    }
    (width, height, format)
  }

  private def hexLower(bytes: Array[Byte]): String =
    bytes.map("%02x".format(_)).mkString

  /** md5 of the LOWERCASE-HEX rendering of the bytes (not of the raw
    * bytes): a string-domain fingerprint every engine can restate —
    * which is what makes these binary ops oracle-checkable rather than
    * rows-only.
    */
  private def md5OfHex(bytes: Array[Byte]): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(hexLower(bytes).getBytes("UTF-8"))
    d.map("%02x".format(_)).mkString
  }

  /** Byte-level oracle preamble: the payload's hex string + byte length,
    * and the first two byte VALUES recovered by hex-digit arithmetic
    * (DuckDB has no blob indexing; the hex string is the portable view
    * of the binary column).
    */
  private val encSql =
    """enc AS (SELECT doc_id, hex(encode(coalesce(text, ''))) AS h,
      |               octet_length(encode(coalesce(text, ''))) AS n FROM documents),
      |bytes AS (SELECT doc_id, h, n,
      |  CASE WHEN length(h) >= 2 THEN
      |    (strpos('0123456789ABCDEF', substr(h,1,1))-1)*16
      |     + (strpos('0123456789ABCDEF', substr(h,2,1))-1) ELSE 0 END AS b0,
      |  CASE WHEN length(h) >= 4 THEN
      |    (strpos('0123456789ABCDEF', substr(h,3,1))-1)*16
      |     + (strpos('0123456789ABCDEF', substr(h,4,1))-1) ELSE 0 END AS b1
      |  FROM enc)""".stripMargin

  /** Binary metadata extraction: text bytes stand in for media payloads;
    * one mapPartitions pass "decodes" headers in batch.
    */
  val metaExtract: Op = Op(
    "mm_meta_extract",
    s"""WITH $encSql
      |SELECT doc_id, CAST(n AS INTEGER) AS n_bytes,
      |  lower(substr(h, 1, 8)) AS magic,
      |  CAST(16*(1+(b0%40)) AS INTEGER) AS width,
      |  CAST(16*(1+(b1%30)) AS INTEGER) AS height,
      |  CASE b0%3 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' ELSE 'webp' END AS format
      |FROM bytes""".stripMargin,
  ) { (spark, dir) =>
    import spark.implicits._
    val media = Tables.documents(spark, dir)
      .select(col("doc_id"),
        // null text ≡ empty payload (r9 null-gate convention): a null
        // binary column NPE'd the typed mapPartitions stubs, and a real
        // media pipeline treats a missing payload as zero bytes
        encode(coalesce(col("text"), lit("")), "UTF-8").as("payload"))
      .as[MediaRow]
    media.mapPartitions { rows =>
      // simulate per-partition decoder initialization (expensive in real codecs)
      rows.map { r =>
        val (w, h, fmt) = stubDecodeHeader(r.payload)
        val magic = hexLower(r.payload.take(4))
        MediaMeta(r.doc_id, r.payload.length, magic, w, h, fmt)
      }
    }.toDF()
  }

  /** Frame/window sampling over binary payloads: fixed-stride slices, each
    * "frame" fingerprinted. Batch iterator shape matches a real
    * frame-extraction pass (decoder state reused across frames of a doc).
    */
  val frameSample: Op = Op(
    "mm_frame_sample",
    s"""WITH $encSql,
      |framed AS (SELECT doc_id, h,
      |  greatest(1, CAST(ceil(n / 64.0) AS BIGINT)) AS nf FROM bytes)
      |SELECT doc_id, CAST(t.i - 1 AS INTEGER) AS frame_idx,
      |  CAST((t.i - 1) * 64 AS INTEGER) AS byte_offset,
      |  md5(lower(substr(h, (t.i - 1) * 128 + 1, 128))) AS frame_md5
      |FROM framed, UNNEST(generate_series(1, nf)) AS t(i)""".stripMargin,
  ) { (spark, dir) =>
    import spark.implicits._
    val stride = 64
    val media = Tables.documents(spark, dir)
      .select(col("doc_id"),
        // null text ≡ empty payload (r9 null-gate convention): a null
        // binary column NPE'd the typed mapPartitions stubs, and a real
        // media pipeline treats a missing payload as zero bytes
        encode(coalesce(col("text"), lit("")), "UTF-8").as("payload"))
      .as[MediaRow]
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        val n = math.max(1, (r.payload.length + stride - 1) / stride)
        (0 until n).iterator.map { i =>
          val off = i * stride
          val slice = r.payload.slice(off, math.min(off + stride, r.payload.length))
          Frame(r.doc_id, i, off, md5OfHex(slice))
        }
      }
    }.toDF()
  }

  case class Resized(doc_id: Long, width: Int, height: Int,
      out_w: Int, out_h: Int, resized_md5: String)
  case class Features(doc_id: Long, n_bytes: Int, mean_byte: Double,
      max_byte: Int, printable_frac: Double)

  /** Aspect-preserving resize to a 224-box: the fit arithmetic (the part
    * a pipeline owner actually reasons about) is real integer math; the
    * pixel resample is the stub — a deterministic byte downsample whose
    * fingerprint the oracle restates from the hex view. Same
    * mapPartitions batch shape as a real resampler (kernel state
    * amortized across the partition).
    */
  val resize: Op = Op(
    "mm_resize",
    s"""WITH $encSql,
      |dims AS (SELECT doc_id, h, n,
      |    16*(1+(b0%40)) AS w, 16*(1+(b1%30)) AS hh FROM bytes),
      |fitted AS (SELECT doc_id, h, n, w, hh,
      |    CASE WHEN w >= hh THEN 224 ELSE greatest(1, (w*224)//hh) END AS out_w,
      |    CASE WHEN w >= hh THEN greatest(1, (hh*224)//w) ELSE 224 END AS out_h
      |  FROM dims)
      |SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(hh AS INTEGER) AS height,
      |  CAST(out_w AS INTEGER) AS out_w, CAST(out_h AS INTEGER) AS out_h,
      |  CASE WHEN n = 0 THEN md5('')
      |    ELSE md5(array_to_string(list_transform(generate_series(1, out_w),
      |      i -> lower(substr(h, (((i-1)*n)//out_w)*2 + 1, 2))), '')) END AS resized_md5
      |FROM fitted""".stripMargin,
  ) { (spark, dir) =>
    import spark.implicits._
    val media = Tables.documents(spark, dir)
      .select(col("doc_id"),
        // null text ≡ empty payload (r9 null-gate convention): a null
        // binary column NPE'd the typed mapPartitions stubs, and a real
        // media pipeline treats a missing payload as zero bytes
        encode(coalesce(col("text"), lit("")), "UTF-8").as("payload"))
      .as[MediaRow]
    media.mapPartitions { rows =>
      rows.map { r =>
        val (w, h, _) = stubDecodeHeader(r.payload)
        val (outW, outH) =
          if (w >= h) (224, math.max(1, h * 224 / w))
          else (math.max(1, w * 224 / h), 224)
        val n = r.payload.length
        val sampled =
          if (n == 0) Array.empty[Byte]
          else Array.tabulate(outW)(i => r.payload(i * n / outW))
        Resized(r.doc_id, w, h, outW, outH, md5OfHex(sampled))
      }
    }.toDF()
  }

  /** Batch feature extraction over the binary payload (the embedding-
    * model-input stand-in): per-payload summary statistics computed in
    * one iterator pass. Double arithmetic is a single sum/divide per
    * payload in both engines — bit-identical.
    */
  val featureExtract: Op = Op(
    "mm_feature_extract",
    s"""WITH $encSql,
      |vals AS (SELECT doc_id, n,
      |    list_transform(generate_series(1, n),
      |      i -> (strpos('0123456789ABCDEF', substr(h, (i-1)*2+1, 1))-1)*16
      |         + (strpos('0123456789ABCDEF', substr(h, (i-1)*2+2, 1))-1)) AS bs
      |  FROM bytes)
      |SELECT doc_id, CAST(n AS INTEGER) AS n_bytes,
      |  CASE WHEN n = 0 THEN 0.0
      |    ELSE CAST(list_sum(bs) AS DOUBLE) / n END AS mean_byte,
      |  CAST(CASE WHEN n = 0 THEN 0 ELSE list_max(bs) END AS INTEGER) AS max_byte,
      |  CASE WHEN n = 0 THEN 0.0
      |    ELSE CAST(len(list_filter(bs, b -> b >= 32 AND b <= 126)) AS DOUBLE) / n
      |  END AS printable_frac
      |FROM vals""".stripMargin,
  ) { (spark, dir) =>
    import spark.implicits._
    val media = Tables.documents(spark, dir)
      .select(col("doc_id"),
        // null text ≡ empty payload (r9 null-gate convention): a null
        // binary column NPE'd the typed mapPartitions stubs, and a real
        // media pipeline treats a missing payload as zero bytes
        encode(coalesce(col("text"), lit("")), "UTF-8").as("payload"))
      .as[MediaRow]
    media.mapPartitions { rows =>
      rows.map { r =>
        val n = r.payload.length
        if (n == 0) Features(r.doc_id, 0, 0.0, 0, 0.0)
        else {
          var sum = 0L; var mx = 0; var printable = 0
          var i = 0
          while (i < n) {
            val b = r.payload(i) & 0xff
            sum += b; if (b > mx) mx = b
            if (b >= 32 && b <= 126) printable += 1
            i += 1
          }
          Features(r.doc_id, n, sum.toDouble / n, mx, printable.toDouble / n)
        }
      }
    }.toDF()
  }

  case class PHash(doc_id: Long, phash: Long)

  /** Perceptual-hash near-dup detection over media payloads — the image/
    * video face of dedup (real pipelines pHash decoded frames; the decode
    * + DCT is the stub here, a deterministic 14-nibble byte downsample
    * into a 56-bit signature). The pairing is the SAME banded shape as
    * dedup_simhash_pairs: by pigeonhole, Hamming ≤ 3 over 56 bits means
    * at least one of four 14-bit bands matches exactly, so candidates
    * come from a numeric band-key equi-join (one keyed shuffle, posting
    * lists capped at 64) and only candidates pay one codegen'd
    * `bit_count(xor)`. 56 bits (not 64) keeps the signature — and every
    * band weight — exactly representable in a signed BIGINT in both
    * engines.
    */
  val dedupPhash: Op = Op(
    "mm_dedup_phash",
    s"""WITH $encSql,
      |sigs AS (SELECT doc_id,
      |    CASE WHEN n = 0 THEN 0 ELSE
      |      list_sum(list_transform(generate_series(0, 13),
      |        k -> CAST(power(16, 13 - k) AS BIGINT) *
      |          (strpos('0123456789ABCDEF',
      |             substr(h, least(k * greatest(1, n // 14), n - 1) * 2 + 2, 1)) - 1)))
      |    END AS phash
      |  FROM bytes),
      |bands AS (
      |  SELECT doc_id, phash, b * 16384 + ((phash >> (14 * b)) & 16383) AS band_key
      |  FROM sigs, UNNEST(generate_series(0, 3)) AS t(b)),
      |small AS (SELECT band_key FROM bands GROUP BY band_key
      |          HAVING COUNT(*) BETWEEN 2 AND 64),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    a.phash AS pa, b.phash AS pb
      |  FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
      |  WHERE a.band_key IN (SELECT band_key FROM small))
      |SELECT doc_a, doc_b,
      |  CAST(bit_count(xor(pa, pb)) AS BIGINT) AS hamming
      |FROM cand WHERE bit_count(xor(pa, pb)) <= 3""".stripMargin,
  ) { (spark, dir) =>
    import spark.implicits._
    val media = Tables.documents(spark, dir)
      .select(col("doc_id"),
        // null text ≡ empty payload (r9 null-gate convention): a null
        // binary column NPE'd the typed mapPartitions stubs, and a real
        // media pipeline treats a missing payload as zero bytes
        encode(coalesce(col("text"), lit("")), "UTF-8").as("payload"))
      .as[MediaRow]
    // the "decoder": 14 bytes sampled at fixed stride, low nibble each —
    // stands in for downsample+DCT; the banded join below is the real
    // 100 TB machinery and is decoder-agnostic
    val sigs = media.mapPartitions { rows =>
      rows.map { r =>
        val n = r.payload.length
        var sig = 0L
        if (n > 0) {
          val stride = math.max(1, n / 14)
          var k = 0
          while (k < 14) {
            val idx = math.min(k * stride, n - 1)
            sig = (sig << 4) | (r.payload(idx) & 0x0fL)
            k += 1
          }
        }
        PHash(r.doc_id, sig)
      }
    }.toDF()
    val bands = sigs.select(col("doc_id"), col("phash"),
      explode(expr("transform(sequence(0, 3)," +
        " b -> b * 16384 + shiftright(phash, 14 * b) % 16384)")).as("band_key"))
    // capped posting lists (Dedup.cappedPairs — O(cap) buffer memory,
    // NULL on overflow ≡ the dropped bucket): an all-zero phash band
    // from empty/templated payloads would otherwise buffer its whole
    // posting list before the size filter ran
    Dedup.cappedPairs(bands, "band_key", struct(col("doc_id"), col("phash")),
      "cast(bit_count(x.phash ^ y.phash) as bigint) as hamming")
      .filter(col("hamming") <= 3)
      .distinct()
  }

  val ops: Seq[Op] = Seq(metaExtract, frameSample, resize, featureExtract, dedupPhash)
}
