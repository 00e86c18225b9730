package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Tables
import graft.functions.Hashing

/** Round-8 twenty-first wave: container type sniffing (mm20),
  * adaptive stopword derivation (tx42).
  *
  * mm20 is the first stage of any mixed-media ingest: payloads arrive
  * without trustworthy extensions and must be classified by MAGIC
  * BYTES before the right codec runs. The sniffer reads the real
  * signatures of all four shipped containers (PGM "P5", WARC
  * "WARC/1.0", TAR "ustar"@257, WAV "RIFF…WAVE") and the census is
  * gated against the id-derived ground truth computed WITHOUT bytes —
  * a single mis-sniff moves a count and hash-fails the gate.
  *
  * tx42 derives stopwords FROM the corpus (tokens present in ≥ half a
  * language's docs) instead of trusting a fixed English list (tx35) —
  * the language-agnostic curation move. Vocab-sized state; the census
  * reports how much token mass the adaptive list absorbs per language.
  */
object Round8u extends Operators {

  private val Fx = 10000L

  /** Build one payload per doc through the REAL codec chosen by
    * doc_id mod 4; sniff it back by magic bytes. Runs partition-
    * batched; payloads never touch the driver.
    */
  private[operators] def sniffedMedia(base: DataFrame): DataFrame = {
    val spark = base.sparkSession
    val outSchema = StructType(base.schema.fields ++ Seq(
      StructField("detected", StringType),
      StructField("byte_len", LongType)))
    val idIdx = base.schema.fieldIndex("doc_id")
    val rdd = base.rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(idIdx)
        val payload = (id % 4) match {
          case 0 =>
            val px = Array.tabulate(16)(k => ((id + k) % 256).toByte)
            graft.sources.PgmCodec.encode(4, 4, 255, px)
          case 1 =>
            graft.sources.WarcCodec.encodeRecord(
              Seq("WARC-Record-ID" -> s"urn:graft:$id"),
              s"doc $id".getBytes(java.nio.charset.StandardCharsets.UTF_8))
          case 2 =>
            graft.sources.TarCodec.encodeArchive(Seq(
              s"d/$id" -> s"doc $id".getBytes(
                java.nio.charset.StandardCharsets.UTF_8)))
          case _ =>
            graft.sources.WavCodec.encode(16000,
              Array.tabulate(64)(k => ((id * 3 + k) % 512 - 256).toShort))
        }
        Row.fromSeq(r.toSeq ++ Seq(sniff(payload), payload.length.toLong))
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Magic-byte classifier over the four shipped container formats. */
  private[graft] def sniff(b: Array[Byte]): String = {
    def at(off: Int, s: String): Boolean =
      b.length >= off + s.length &&
        s.indices.forall(i => b(off + i) == s.charAt(i).toByte)
    if (b == null || b.length < 2) "unknown"
    else if (b.length >= 8 && graft.sources.PngCodec.Magic.indices
      .forall(i => b(i) == graft.sources.PngCodec.Magic(i))) "png"
    else if (at(0, "P5")) "pgm"
    else if (at(0, "WARC/1.0")) "warc"
    else if (at(0, "RIFF") && at(8, "WAVE")) "wav"
    else if (at(257, "ustar")) "tar"
    else "unknown"
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- mm20: magic-byte type sniffing census ----------------------------
    "mm20_type_sniffing" -> { (s, d) =>
      val base = Tables.documents(s, d).select(col("doc_id"), col("source"))
      sniffedMedia(base)
        .withColumn("h", Hashing.hash64(concat(col("doc_id").cast("string"),
          lit(":"), col("detected"))))
        .groupBy(col("source"), col("detected"))
        .agg(count(lit(1)).cast("long").as("n_payloads"),
          sum(col("byte_len")).cast("long").as("total_bytes"),
          expr("bit_xor(h)").as("sniff_hash_xor"))
        .orderBy(col("source"), col("detected"))
    },

    // --- tx42: adaptive stopword derivation -------------------------------
    "tx42_adaptive_stopwords" -> { (s, d) =>
      val tok = Dedup.barrier(Tables.documents(s, d)
        .select(col("lang"), col("doc_id"),
          explode(split(trim(col("text")), "\\s+")).as("tok"))
        .filter(col("tok") =!= ""))
      val docsPerLang = tok.groupBy(col("lang"))
        .agg(countDistinct(col("doc_id")).cast("long").as("n_docs"))
      val dfTbl = tok.select(col("lang"), col("doc_id"),
          lower(col("tok")).as("lt")).distinct()
        .groupBy(col("lang"), col("lt"))
        .agg(count(lit(1)).cast("long").as("df"))
        .join(docsPerLang, Seq("lang"))
        .withColumn("is_stop", col("df") * 2 >= col("n_docs"))
      val mass = tok.select(col("lang"), lower(col("tok")).as("lt"))
        .groupBy(col("lang"), col("lt"))
        .agg(count(lit(1)).cast("long").as("tf"))
        .join(dfTbl.select(col("lang"), col("lt"), col("is_stop")),
          Seq("lang", "lt"))
      mass.groupBy(col("lang"))
        .agg(sum(when(col("is_stop"), 1L).otherwise(0L)).cast("long")
            .as("n_stopwords"),
          count(lit(1)).cast("long").as("vocab"),
          sum(col("tf")).cast("long").as("n_tokens"),
          sum(when(col("is_stop"), col("tf")).otherwise(0L)).cast("long")
            .as("stop_mass"),
          expr("min_by(lt, struct(-tf, lt))").as("top_token"))
        .withColumn("stop_mass_fx", expr(s"stop_mass * $Fx div n_tokens"))
        .select(col("lang"), col("n_stopwords"), col("vocab"),
          col("n_tokens"), col("stop_mass"), col("stop_mass_fx"),
          col("top_token"))
        .orderBy(col("lang"))
    })

  def oracles: Map[String, String] = {
    val h = Hashing.duckHash64(
      s"""(CAST(doc_id AS VARCHAR) || ':' ||
         | (['pgm', 'warc', 'tar', 'wav'])[CAST(doc_id % 4 AS INT) + 1])"""
        .stripMargin.replace("\n", ""))
    Map(
      // ground truth from id mod 4, payload sizes from the codecs'
      // closed-form layouts: PGM "P5\n4 4\n255\n" + 16 px; WARC headers
      // + body + terminator (exact string lengths); TAR 512 hdr +
      // padded body + 1024 terminator; WAV 44 + 2·64
      "mm20_type_sniffing" ->
        s"""WITH d AS (
           |  SELECT source, doc_id,
           |    (['pgm', 'warc', 'tar', 'wav'])[CAST(doc_id % 4 AS INT) + 1]
           |      AS detected,
           |    CAST(CASE doc_id % 4
           |      WHEN 0 THEN ${"P5\n4 4\n255\n".length} + 16
           |      WHEN 1 THEN ${"WARC/1.0\r\n".length}
           |        + ${"WARC-Record-ID: urn:graft:".length}
           |        + strlen(CAST(doc_id AS VARCHAR)) + 2
           |        + ${"Content-Length: ".length}
           |        + strlen(CAST(strlen('doc ' || CAST(doc_id AS VARCHAR))
           |            AS VARCHAR)) + 4
           |        + strlen('doc ' || CAST(doc_id AS VARCHAR)) + 4
           |      WHEN 2 THEN 512
           |        + ((strlen('doc ' || CAST(doc_id AS VARCHAR)) + 511)
           |           // 512) * 512 + 1024
           |      ELSE 44 + 128 END AS BIGINT) AS byte_len,
           |    $h AS hh
           |  FROM documents)
           |SELECT source, detected,
           |  CAST(COUNT(*) AS BIGINT) AS n_payloads,
           |  CAST(SUM(byte_len) AS BIGINT) AS total_bytes,
           |  CAST(bit_xor(hh) AS BIGINT) AS sniff_hash_xor
           |FROM d GROUP BY 1, 2 ORDER BY source, detected""".stripMargin,

      "tx42_adaptive_stopwords" ->
        s"""WITH tok AS (
           |  SELECT lang, doc_id, unnest(${Dedup.duckToks}) AS tok
           |  FROM documents),
           |tok2 AS (
           |  SELECT lang, doc_id, lower(tok) AS lt FROM tok WHERE tok <> ''),
           |npl AS (
           |  SELECT lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
           |  FROM tok2 GROUP BY lang),
           |dft AS (
           |  SELECT lang, lt, CAST(COUNT(*) AS BIGINT) AS df
           |  FROM (SELECT DISTINCT lang, doc_id, lt FROM tok2)
           |  GROUP BY 1, 2),
           |flags AS (
           |  SELECT dft.lang, lt, (df * 2 >= n_docs) AS is_stop
           |  FROM dft JOIN npl ON npl.lang = dft.lang),
           |mass AS (
           |  SELECT t.lang, t.lt, CAST(COUNT(*) AS BIGINT) AS tf, is_stop
           |  FROM tok2 t JOIN flags f ON f.lang = t.lang AND f.lt = t.lt
           |  GROUP BY 1, 2, 4),
           |agg AS (
           |  SELECT lang,
           |    CAST(SUM(CASE WHEN is_stop THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_stopwords,
           |    CAST(COUNT(*) AS BIGINT) AS vocab,
           |    CAST(SUM(tf) AS BIGINT) AS n_tokens,
           |    CAST(SUM(CASE WHEN is_stop THEN tf ELSE 0 END) AS BIGINT)
           |      AS stop_mass,
           |    CAST(SUM(CASE WHEN is_stop THEN tf ELSE 0 END) * $Fx
           |      // CAST(SUM(tf) AS BIGINT) AS BIGINT) AS stop_mass_fx
           |  FROM mass GROUP BY lang),
           |top AS (
           |  SELECT lang, lt AS top_token FROM mass
           |  QUALIFY row_number() OVER (PARTITION BY lang
           |    ORDER BY tf DESC, lt) = 1)
           |SELECT agg.lang, n_stopwords, vocab, n_tokens, stop_mass,
           |  stop_mass_fx, top_token
           |FROM agg JOIN top ON top.lang = agg.lang
           |ORDER BY agg.lang""".stripMargin)
  }
}
