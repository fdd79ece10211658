package graft.queries

import graft.Tables
import graft.sources.{TypedCsv, TypedJsonl, TypedOrc}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The documents-metadata row shape the typed-source round trips carry
  * (text itself is excluded: embedded newlines would test the formats'
  * quoting dialects, not the ingestion path under test). */
case class DocMeta(doc_id: Long, lang: String, source: String, n_chars: Long)

/** Driver wiring for the typed sources (SURVEY §2 #17/#17b): write the
  * documents metadata out through each format, re-ingest through the
  * typed reader, and hash-check the round trip against the original
  * table — upgrading both sources from spec-only to DuckDB-checked.
  */
object SourceQueries {

  private def meta(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select("doc_id", "lang", "source", "n_chars")

  private val csvCache = new Memo[DataFrame]
  private val jsonlCache = new Memo[DataFrame]
  private val orcCache = new Memo[DataFrame]

  /** #17c typed ORC: write → `TypedOrc.read[DocMeta]` → original rows
    * (name-matched columns; same memo + scratch hygiene as CSV). */
  def orcRoundtrip(s: SparkSession, dir: String): DataFrame =
    orcCache(s, dir)(Scratch.cleaned("graft_orc") { tmp =>
      meta(s, dir).coalesce(1)
        .write.mode("overwrite").orc(tmp.toString)
      TypedOrc.read[DocMeta](s, tmp.toString).toDF().orderBy("doc_id")
    })

  private val evoCache = new Memo[DataFrame]

  /** #17d schema evolution across snapshot generations: an old
    * snapshot (even ids, three columns) and a new one (odd ids, plus a
    * `quality` column) read together under `mergeSchema` — the lake
    * reality where the schema grew mid-corpus; old rows surface the
    * new column as null, nothing is silently dropped or reordered. */
  def schemaEvolution(s: SparkSession, dir: String): DataFrame =
    evoCache(s, dir)(Scratch.cleaned("graft_evo") { tmp =>
      val docs = Tables.documents(s, dir).select("doc_id", "lang", "n_chars")
      docs.filter(col("doc_id") % 2 === 0)
        .write.mode("overwrite").parquet(tmp.resolve("gen1").toString)
      docs.filter(col("doc_id") % 2 === 1)
        .withColumn("quality", col("n_chars") * 2)
        .write.mode("overwrite").parquet(tmp.resolve("gen2").toString)
      s.read.option("mergeSchema", "true")
        .parquet(tmp.resolve("gen1").toString, tmp.resolve("gen2").toString)
        .select("doc_id", "lang", "n_chars", "quality")
        .orderBy("doc_id")
    })

  private val bucketCache = new Memo[DataFrame]

  /** #17e bucketed co-located join ([[graft.sources.Bucketed]]): orders
    * and lineitem bucketed (and per-bucket sorted) by order key into the
    * same 8 buckets, then joined — the storage layout that removes BOTH
    * shuffle sides of every recurring fact⋈fact join on the bucket key
    * (the contract `PlanContractSpec` pins: no Exchange under the join).
    * The result is the priority revenue rollup, hash-checked against
    * the plain parquet join. */
  def bucketedJoin(s: SparkSession, dir: String): DataFrame =
    bucketCache(s, dir) {
      val out = Scratch.cleaned("graft_bkt") { tmp =>
        graft.sources.Bucketed.write(Tables.orders(s, dir)
            .select("o_orderkey", "o_orderpriority"),
          "graft_bq_orders", tmp.resolve("o").toString, "o_orderkey", 8)
        graft.sources.Bucketed.write(Tables.lineitem(s, dir)
            .select("l_orderkey", "l_extendedprice", "l_discount"),
          "graft_bq_lineitem", tmp.resolve("l").toString, "l_orderkey", 8)
        graft.sources.Bucketed.read(s, "graft_bq_orders")
          .join(graft.sources.Bucketed.read(s, "graft_bq_lineitem"),
            col("o_orderkey") === col("l_orderkey"))
          .withColumn("cents",
            round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100, 0)
              .cast("long"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_items"), sum("cents").as("cents"))
          .select(col("o_orderpriority"), col("n_items"),
            round(col("cents") / 100.0, 2).as("revenue"))
          .orderBy("o_orderpriority")
      }
      // The catalog entries must not outlive their (deleted) scratch dir.
      s.sql("DROP TABLE IF EXISTS graft_bq_orders")
      s.sql("DROP TABLE IF EXISTS graft_bq_lineitem")
      out
    }

  private val partCache = new Memo[DataFrame]

  /** #17f partition-pruned scan: events written `partitionBy(day)`, read
    * back with a literal 7-day filter — the layout that turns a
    * time-ranged scan over years of history into opening exactly the
    * matching directories (`PlanContractSpec` pins the PartitionFilters
    * and that no data filter remains). Daily rollup of the pruned week,
    * hash-checked against the same filter over the unpartitioned table. */
  def partitionedScan(s: SparkSession, dir: String): DataFrame =
    partCache(s, dir)(Scratch.cleaned("graft_part") { tmp =>
      val ev = Tables.events(s, dir).withColumn("day", to_date(col("ts")))
      ev.write.mode("overwrite").partitionBy("day").parquet(tmp.toString)
      val back = s.read.parquet(tmp.toString)
      val mn = ev.agg(min("day")).head.getDate(0).toLocalDate
      val (lo, hi) = (mn.plusDays(7), mn.plusDays(13))
      back
        .filter(col("day").between(
          java.sql.Date.valueOf(lo), java.sql.Date.valueOf(hi)))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 6).as("sum_value"))
        .select(unix_date(col("day")).cast("long").as("day_num"),
          col("n_events"), col("sum_value"))
        .orderBy("day_num")
    })

  /** #17 typed CSV: write → `TypedCsv.read[DocMeta]` → original rows.
    * Memoized + scratch-cleaned: one write/read per (session, dir), no
    * leaked temp dirs across bench/validate re-runs. */
  def csvRoundtrip(s: SparkSession, dir: String): DataFrame =
    csvCache(s, dir)(Scratch.cleaned("graft_csv") { tmp =>
      meta(s, dir).coalesce(1)
        .write.mode("overwrite").option("header", "true").csv(tmp.toString)
      TypedCsv.read[DocMeta](s, tmp.toString).toDF().orderBy("doc_id")
    })

  /** #17b typed JSONL with quarantine: two malformed lines are planted
    * (one JSON-syntax reject, one null-required-field reject — both
    * quarantine categories) and must land in the corrupt channel, not
    * the data; the good side must round-trip exactly. The quarantine
    * count rides along as a constant column so the oracle checks it. */
  def jsonlRoundtrip(s: SparkSession, dir: String): DataFrame =
    jsonlCache(s, dir)(Scratch.cleaned("graft_jsonl") { tmp =>
      meta(s, dir).coalesce(1)
        .write.mode("overwrite").json(tmp.toString)
      java.nio.file.Files.writeString(tmp.resolve("part-planted-bad.json"),
        "{\"oops\": 1}\n{broken json\n")
      val (good, bad) = TypedJsonl.readWithCorrupt[DocMeta](s, tmp.toString)
      good.toDF()
        .crossJoin(broadcast(bad.agg(count(lit(1)).as("n_quarantined"))))
        .orderBy("doc_id")
    })

  private val textCache = new Memo[DataFrame]

  /** #17g line-text roundtrip: documents serialized as
    * `doc_id<TAB>newline-collapsed-text` lines through
    * [[graft.sources.TypedText]], re-ingested, re-keyed by splitting on
    * the FIRST tab (document text may contain tabs), and length-checked
    * per document against the original table. */
  def textRoundtrip(s: SparkSession, dir: String): DataFrame =
    textCache(s, dir)(Scratch.cleaned("graft_text") { tmp =>
      val lines = Tables.documents(s, dir)
        .select(concat(col("doc_id").cast("string"), lit("\t"),
          regexp_replace(col("text"), "\n", " ")).as("line"))
      graft.sources.TypedText.write(lines.coalesce(1), "line", tmp.toString)
      graft.sources.TypedText.read(s, tmp.toString)
        .select(expr("split(value, '\t', 2)").as("p"))
        .select(col("p")(0).cast("long").as("doc_id"),
          length(col("p")(1)).as("n_chars_clean"))
        .orderBy("doc_id")
    })

  private val fwCache = new Memo[DataFrame]

  /** #17h fixed-width (copybook-style) ingestion roundtrip
    * ([[graft.sources.FixedWidth]]): events written as 44-char
    * fixed-slice records (no delimiter, no quoting — the
    * mainframe/EDI interchange shape) and parsed back by stateless
    * per-line substring slices; values survive exactly, so the oracle
    * is the source table itself. */
  def fixedwidthRoundtrip(s: SparkSession, dir: String): DataFrame =
    fwCache(s, dir)(Scratch.cleaned("graft_fw") { tmp =>
      import graft.sources.FixedWidth
      val layout = Seq(
        FixedWidth.Field("event_id", 12, "long"),
        FixedWidth.Field("user_id", 8, "long"),
        FixedWidth.Field("event_type", 10, "string"),
        FixedWidth.Field("v_us", 14, "long"))
      val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"),
        col("event_type"), round(col("value") * 1000000, 0).cast("long").as("v_us"))
      FixedWidth.write(ev, layout, tmp.toString)
      FixedWidth.read(s, tmp.toString, layout).orderBy("event_id")
    })

  private val gzCache = new Memo[DataFrame]

  /** #17i gzip-compressed text ingestion roundtrip: the same tab-keyed
    * line corpus as [[textRoundtrip]] but written through the gzip
    * codec and read back transparently (`.txt.gz` part files) — the
    * wire format most web-scale text dumps actually ship in. Gzip is
    * NOT splittable, which is exactly why the write keeps many small
    * part files instead of one big archive: the parallelism unit
    * becomes the file. */
  def gzipRoundtrip(s: SparkSession, dir: String): DataFrame =
    gzCache(s, dir)(Scratch.cleaned("graft_gz") { tmp =>
      Tables.documents(s, dir)
        .select(concat(col("doc_id").cast("string"), lit("\t"),
          regexp_replace(col("text"), "\n", " ")).as("line"))
        .write.mode("overwrite").option("compression", "gzip")
        .text(tmp.toString)
      graft.sources.TypedText.read(s, tmp.toString)
        .select(expr("split(value, '\t', 2)").as("p"))
        .select(col("p")(0).cast("long").as("doc_id"),
          length(col("p")(1)).as("n_chars_clean"))
        .orderBy("doc_id")
    })

  private val sizingCache = new Memo[DataFrame]

  /** #52' output-sizing audit, sql-decidable: [[graft.sources.CorpusWriter]]'s
    * two writers exercised against the lake and read back through
    * `input_file_name()` — `writeSized` must emit exactly
    * ceil(n / rowsPerFile) files holding all n rows, and
    * `writePartitioned` must emit exactly ONE file per lang partition
    * with that lang's row count. Long-form (metric, n_files, n_rows)
    * rows so one oracle covers both writers. */
  def writeSizing(s: SparkSession, dir: String): DataFrame =
    sizingCache(s, dir)(Scratch.cleaned("graft_sizing") { tmp =>
      val docs = Tables.documents(s, dir).select("doc_id", "lang", "source", "n_chars")
      graft.sources.CorpusWriter.writeSized(docs, tmp.resolve("sized").toString, 100L)
      val sized = s.read.parquet(tmp.resolve("sized").toString)
        .withColumn("__f", input_file_name())
        .agg(countDistinct(col("__f")).as("n_files"),
          count(lit(1)).as("n_rows"))
        .select(lit("sized").as("metric"), col("n_files"), col("n_rows"))
      graft.sources.CorpusWriter.writePartitioned(
        docs, tmp.resolve("bylang").toString, Seq("lang"))
      val parted = s.read.parquet(tmp.resolve("bylang").toString)
        .withColumn("__f", input_file_name())
        .groupBy(col("lang"))
        .agg(countDistinct(col("__f")).as("n_files"),
          count(lit(1)).as("n_rows"))
        .select(concat(lit("lang:"), col("lang")).as("metric"),
          col("n_files"), col("n_rows"))
      sized.unionAll(parted).orderBy("metric")
    })

  private val binfCache = new Memo[DataFrame]

  /** #17h opaque-blob ingestion via Spark's `binaryFile` source — the
    * path every non-splittable media/artifact lake uses: one file per
    * source (bytes = that source's texts joined by newline in doc_id
    * order, so the payload is reproducible), read back as
    * (path, content) rows and fingerprinted with length + md5. The
    * oracle rebuilds each payload with an ordered string_agg and must
    * hash to the same digest — a charset or ordering slip in either
    * direction breaks every row. */
  def binaryfileScan(s: SparkSession, dir: String): DataFrame =
    binfCache(s, dir)(Scratch.cleaned("graft_binf") { tmp =>
      val perSource = Tables.documents(s, dir)
        .groupBy("source")
        .agg(array_sort(collect_list(struct(col("doc_id"), col("text")))).as("xs"))
        .select(col("source"),
          concat_ws("\n", expr("transform(xs, x -> x.text)")).as("payload"))
        .collect() // one row per source — catalog-sized, never fact-sized
      perSource.foreach { row =>
        java.nio.file.Files.write(
          tmp.resolve(s"${row.getString(0)}.bin"),
          row.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      s.read.format("binaryFile").load(tmp.toString)
        .select(
          regexp_extract(col("path"), "([^/]+)\\.bin$", 1).as("source"),
          length(col("content")).cast("long").as("n_bytes"),
          md5(col("content")).as("content_md5"))
        .orderBy("source")
    })

  /** #17h Avro binary-wire roundtrip ([[graft.sources.AvroCodec]]):
    * encode+decode per partition against the Avro 1.12 runtime; the
    * oracle recomputes the exact wire size from the PUBLIC spec
    * (zigzag-varint longs, length-prefixed UTF-8 strings), so an
    * encoding drift in either direction hash-mismatches. */
  def avroRoundtrip(s: SparkSession, dir: String): DataFrame =
    graft.sources.AvroCodec.roundtrip(
        Tables.documents(s, dir).select("doc_id", "lang", "n_chars"))
      .orderBy("doc_id")

  /** #17i dynamic-partition-pruned fact⋈dim scan: the fact lake is
    * day-partitioned and the join's dim side (weekend days) carries the
    * only filter — static pruning can see nothing, so Catalyst's
    * dynamic partition pruning must inject the dim subquery into the
    * fact scan's PartitionFilters at runtime (pinned by a plan
    * contract). Weekday partitions are never read. */
  def dppScan(s: SparkSession, dir: String): DataFrame =
    dppCache(s, dir)(Scratch.cleaned("graft_dpp") { tmp =>
      val ev = Tables.events(s, dir).withColumn("day", to_date(col("ts")))
      ev.write.mode("overwrite").partitionBy("day").parquet(tmp.toString)
      dppJoin(s, tmp.toString, ev)
    })

  /** The DPP-shaped join itself, factored so the plan contract can
    * inspect it pre-checkpoint. */
  private[queries] def dppJoin(
      s: SparkSession, lake: String,
      ev: org.apache.spark.sql.DataFrame): DataFrame = {
    val fact = s.read.parquet(lake)
    val dim = ev.select(col("day")).distinct()
      .filter(dayofweek(col("day")).isin(1, 7))
    fact.join(dim, "day")
      .groupBy("day")
      .agg(count(lit(1)).as("n_events"),
        sum(expr("cast(round(value*1e6) as bigint)")).as("v_us"))
      .select(unix_date(col("day")).cast("long").as("day_num"),
        col("n_events"), expr("round(v_us/1e6, 6)").as("sum_value"))
      .orderBy("day_num")
  }

  private val dppCache = new Memo[DataFrame]

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dpp_scan"        -> (dppScan _),
    "avro_roundtrip"  -> (avroRoundtrip _),
    "binaryfile_scan" -> (binaryfileScan _),
    "csv_roundtrip"   -> (csvRoundtrip _),
    "text_roundtrip"  -> (textRoundtrip _),
    "write_sizing"    -> (writeSizing _),
    "jsonl_roundtrip" -> (jsonlRoundtrip _),
    "orc_roundtrip"   -> (orcRoundtrip _),
    "schema_evolution" -> (schemaEvolution _),
    "bucketed_join"   -> (bucketedJoin _),
    "partitioned_scan" -> (partitionedScan _),
    "fixedwidth_roundtrip" -> (fixedwidthRoundtrip _),
    "gzip_roundtrip"  -> (gzipRoundtrip _),
  )

  val oracles: Map[String, String] = Map(
    // Weekend-day filter applied directly (the join is semantically a
    // filter); exact micro sums.
    "dpp_scan" ->
      """WITH e AS (
        |  SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num,
        |    dayofweek(CAST(ts AS DATE)) AS dw,
        |    CAST(round(value*1e6) AS BIGINT) AS v_us
        |  FROM events
        |)
        |SELECT day_num, count(*)::BIGINT AS n_events,
        |  round(sum(v_us)/1e6, 6) AS sum_value
        |FROM e WHERE dw IN (0, 6)
        |GROUP BY day_num ORDER BY day_num""".stripMargin,
    // Wire size from the public Avro spec: zigzag-varint(2v) per long,
    // varint length prefix + UTF-8 bytes per string. Thresholds are the
    // HALVED varint boundaries (v < 2^(7k-1) <=> zigzag 2v < 2^7k, valid
    // because doc_id/n_chars/byte-lengths are nonnegative) so no `2*x`
    // can overflow BIGINT at the 9/10-byte arms. The lang prefix counts
    // UTF-8 BYTES (octet_length(encode(...))) with the zigzag 1-byte
    // cutoff at 64, not 128 — full ladders pinned in AvroCodecSpec.
    "avro_roundtrip" ->
      """WITH d AS (
        |  SELECT doc_id, lang, n_chars,
        |    octet_length(encode(lang)) AS lb FROM documents
        |)
        |SELECT doc_id, lang, n_chars,
        |  (CASE WHEN doc_id < 64 THEN 1 WHEN doc_id < 8192 THEN 2
        |     WHEN doc_id < 1048576 THEN 3 WHEN doc_id < 134217728 THEN 4
        |     WHEN doc_id < 17179869184 THEN 5 WHEN doc_id < 2199023255552 THEN 6
        |     WHEN doc_id < 281474976710656 THEN 7
        |     WHEN doc_id < 36028797018963968 THEN 8
        |     WHEN doc_id < 4611686018427387904 THEN 9 ELSE 10 END
        |   + CASE WHEN lb < 64 THEN 1 WHEN lb < 8192 THEN 2
        |     WHEN lb < 1048576 THEN 3 ELSE 4 END + lb
        |   + CASE WHEN n_chars < 64 THEN 1 WHEN n_chars < 8192 THEN 2
        |     WHEN n_chars < 1048576 THEN 3 WHEN n_chars < 134217728 THEN 4
        |     WHEN n_chars < 17179869184 THEN 5 WHEN n_chars < 2199023255552 THEN 6
        |     WHEN n_chars < 281474976710656 THEN 7
        |     WHEN n_chars < 36028797018963968 THEN 8
        |     WHEN n_chars < 4611686018427387904 THEN 9 ELSE 10 END)::BIGINT
        |    AS payload_bytes
        |FROM d ORDER BY doc_id""".stripMargin,
    // Ordered string_agg rebuilds each blob byte-for-byte; octet_length
    // + md5 must match the binaryFile read.
    "binaryfile_scan" ->
      """SELECT source,
        |  octet_length(encode(string_agg(text, chr(10) ORDER BY doc_id)))::BIGINT
        |    AS n_bytes,
        |  md5(string_agg(text, chr(10) ORDER BY doc_id)) AS content_md5
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // Exact roundtrips: the oracle is the source table itself.
    "fixedwidth_roundtrip" ->
      """SELECT event_id, user_id, event_type,
        |  CAST(round(value * 1000000, 0) AS BIGINT) AS v_us
        |FROM events ORDER BY event_id""".stripMargin,
    "gzip_roundtrip" ->
      """SELECT doc_id, length(replace(text, chr(10), ' ')) AS n_chars_clean
        |FROM documents ORDER BY doc_id""".stripMargin,
    "csv_roundtrip" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin,
    "text_roundtrip" ->
      """SELECT doc_id, length(replace(text, chr(10), ' ')) AS n_chars_clean
        |FROM documents ORDER BY doc_id""".stripMargin,
    "write_sizing" ->
      """WITH n AS (SELECT count(*) AS c FROM documents)
        |SELECT 'sized' AS metric, (c + 99) // 100 AS n_files, c AS n_rows FROM n
        |UNION ALL
        |SELECT 'lang:' || lang, 1, count(*) FROM documents GROUP BY lang
        |ORDER BY metric""".stripMargin,
    "jsonl_roundtrip" ->
      """SELECT doc_id, lang, source, n_chars, 2::BIGINT AS n_quarantined
        |FROM documents ORDER BY doc_id""".stripMargin,
    "orc_roundtrip" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin,
    "schema_evolution" ->
      """SELECT doc_id, lang, n_chars,
        |  CASE WHEN doc_id % 2 = 1 THEN n_chars * 2 END AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,
    "bucketed_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |  round(sum(round(l_extendedprice * (1.0 - l_discount) * 100, 0)::BIGINT)
        |    / 100.0, 2) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    "partitioned_scan" ->
      """WITH e AS (
        |  SELECT date_trunc('day', ts)::DATE AS day, value FROM events
        |), b AS (SELECT min(day) AS mn FROM e)
        |SELECT (day - DATE '1970-01-01')::BIGINT AS day_num,
        |  count(*) AS n_events, round(sum(value), 6) AS sum_value
        |FROM e
        |WHERE day BETWEEN (SELECT mn FROM b) + 7 AND (SELECT mn FROM b) + 13
        |GROUP BY day ORDER BY day_num""".stripMargin,
  )
}
