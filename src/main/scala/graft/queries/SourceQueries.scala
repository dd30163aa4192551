package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Tables
import graft.ingest.CsvSource

/** Source-format queries: CSV ingest (Auto Loader analogue, SURVEY §2.1
  * S1) and semi-structured JSON extraction.
  *
  * s1_csv_ingest round-trips the documents table through an on-disk CSV
  * copy (written once per scale factor) and reads it back through
  * [[graft.ingest.CsvSource]] with an explicit schema + rescue column;
  * the oracle is the ORIGINAL parquet table — so the query verifies the
  * full write-read cycle byte-for-byte, including the trim options the
  * reference's Auto Loader sets.
  */
object SourceQueries {

  import QuerySpec._

  private val DocSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  val s1CsvIngest = withOracle(
    "s1_csv_ingest",
    "SELECT doc_id, text, lang, source, n_chars FROM documents") { (s, d) =>
    val sfName = graft.core.Scratch.pathKey(d)
    // Scratch keyed by source fingerprint + written schema (Scratch.key):
    // regenerated data OR a changed derivation busts the cache. The
    // _SUCCESS marker (not bare existence) gates the rebuild — an
    // interrupted write leaves a partial dir that must be overwritten,
    // not trusted — and stale generations are pruned only after it.
    val dir = graft.core.Scratch.ensure(s, s"csv/$sfName",
      graft.core.Scratch.key(s, d, DocSchema.json), "documents/_SUCCESS") {
      gen =>
        Tables.documents(s, d)
          .select("doc_id", "text", "lang", "source", "n_chars")
          .write.option("header", "true").mode("overwrite")
          .csv(gen.resolve("documents").toString)
    }.resolve("documents").toString
    CsvSource.read(s, dir, DocSchema)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
  }

  // ---- JSON extraction over the events.props payload ----
  // One from_json parse per row serves every extraction (path-style,
  // struct-style, missing-field probe): parsing is the dominant cost, and
  // get_json_object re-parses the document per call, so N extractions
  // must share a single parsed struct, not run N parsers.
  val f5Json = withOracle(
    "f5_json",
    """SELECT event_id,
      |       CAST(json_extract(props, '$.k') AS BIGINT) AS k_path,
      |       CAST(json_extract(props, '$.k') AS BIGINT) AS k_struct,
      |       CAST(json_extract(props, '$.missing') IS NULL AS BOOLEAN) AS missing_is_null
      |FROM events""".stripMargin) { (s, d) =>
    val parsed = from_json(col("props"), StructType(Seq(
      StructField("k", LongType), StructField("missing", StringType))))
    Tables.events(s, d)
      .withColumn("j", parsed)
      .select(
        col("event_id"),
        col("j.k").as("k_path"),
        col("j.k").as("k_struct"),
        col("j.missing").isNull.as("missing_is_null"))
  }

  // ---- JSON-lines source round-trip ----
  // Same write-once/_SUCCESS-guard shape as s1: dump documents as
  // JSON-lines, read back with a PINNED schema (inference on first
  // contact is a separate, tested path — CsvSource.readInferred; a
  // pinned schema is the production contract). Exact round-trip is the
  // assertion: JSON string escaping and integer widths survive.
  val s4JsonRoundtrip = withOracle(
    "s4_json_roundtrip",
    "SELECT doc_id, text, lang, source, n_chars FROM documents") { (s, d) =>
    val sfName = graft.core.Scratch.pathKey(d)
    val dir = graft.core.Scratch.ensure(s, s"json/$sfName",
      graft.core.Scratch.key(s, d, DocSchema.json), "documents/_SUCCESS") {
      gen =>
        Tables.documents(s, d)
          .select("doc_id", "text", "lang", "source", "n_chars")
          .write.mode("overwrite").json(gen.resolve("documents").toString)
    }.resolve("documents").toString
    s.read.schema(DocSchema).json(dir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
  }

  // ---- ORC source round-trip (the second columnar format) ----
  val s5OrcRoundtrip = withOracle(
    "s5_orc_roundtrip",
    "SELECT doc_id, text, lang, source, n_chars FROM documents") { (s, d) =>
    val sfName = graft.core.Scratch.pathKey(d)
    val dir = graft.core.Scratch.ensure(s, s"orc/$sfName",
      graft.core.Scratch.key(s, d, DocSchema.json), "documents/_SUCCESS") {
      gen =>
        Tables.documents(s, d)
          .select("doc_id", "text", "lang", "source", "n_chars")
          .write.mode("overwrite").orc(gen.resolve("documents").toString)
    }.resolve("documents").toString
    s.read.orc(dir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
  }

  // ---- Regex vocabulary (extract / replace-count / extract_all / rlike) ----
  // Patterns are restricted to the syntax Java regex and RE2 interpret
  // identically (char classes, quantifiers, alternation — no lookaround,
  // no \b) so both engines match the same spans. The digit-strip is
  // reported as a LENGTH (not the rewritten text) to keep the hashed
  // payload small.
  val f6Regex = withOracle(
    "f6_regex",
    """SELECT doc_id,
      |       regexp_extract(text, '([0-9]+)', 1) AS first_num,
      |       CAST(length(text) -
      |            length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT)
      |         AS n_digit_chars,
      |       CAST(length(regexp_extract_all(text, '[A-Za-z]+ing')) AS BIGINT)
      |         AS ing_words,
      |       regexp_matches(text, 'the [a-z]+') AS has_the_phrase
      |FROM documents""".stripMargin) { (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      regexp_extract(col("text"), "([0-9]+)", 1).as("first_num"),
      (length(col("text")) -
        length(regexp_replace(col("text"), "[0-9]", "")))
        .cast("long").as("n_digit_chars"),
      size(regexp_extract_all(col("text"), lit("[A-Za-z]+ing"), lit(0)))
        .cast("long").as("ing_words"),
      col("text").rlike("the [a-z]+").as("has_the_phrase"))
  }

  // ---- Plain-text source round-trip ----
  // spark.read.text — the rawest ingest format (one row per line, one
  // `value` column); the standard first step for crawl/log corpora
  // before any structure exists. Documents here are single-line, so a
  // text round-trip preserves row identity; the read side recovers the
  // content-addressed identity via the same rolling hash the curation
  // stack uses. (Line-split corpora at scale: the text source splits on
  // newlines within partitions — no cross-file coordination needed.)
  val s7TextRoundtrip = withOracle(
    "s7_text_roundtrip",
    """SELECT text,
      |       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |              list_transform(list_filter(string_split(text, ''), c -> length(c) > 0),
      |                             c -> CAST(ascii(c) AS BIGINT))),
      |            (a, b) -> (a * 31 + b) % 2147483647) AS BIGINT) AS content_fp,
      |       CAST(length(text) AS BIGINT) AS n_chars
      |FROM documents""".stripMargin) { (s, d) =>
    import graft.text.TextFunctions.rollingHash
    val sfName = graft.core.Scratch.pathKey(d)
    val dir = graft.core.Scratch.ensure(s, s"text/$sfName",
      graft.core.Scratch.key(s, d, "text-lines-v1"), "documents/_SUCCESS") {
      gen =>
        Tables.documents(s, d).select(col("text"))
          .write.mode("overwrite").text(gen.resolve("documents").toString)
    }.resolve("documents").toString
    s.read.text(dir)
      .select(col("value").as("text"),
        rollingHash(col("value")).as("content_fp"),
        length(col("value")).cast("long").as("n_chars"))
  }

  // ---- Native kernels through the SQL surface ----
  // The extension path a `spark.sql` user takes: GraftExtensions
  // registers the custom Catalyst expressions as SQL functions
  // (injectFunction via spark.sql.extensions at session build, or
  // register() on a live session — used here since the driver owns the
  // session). The oracle reproduces each kernel's defining arithmetic,
  // proving the SQL names bind to the same semantics as the DataFrame
  // column functions (t1/t4 cover those).
  val f9SqlKernels = withOracle(
    "f9_sql_kernels",
    """WITH tok AS (
      |  SELECT doc_id, text,
      |         list_filter(string_split_regex(trim(text), ' +'),
      |                     t -> length(t) > 0) AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, text,
      |         list_distinct(CASE WHEN length(toks) >= 3 THEN
      |           list_transform(range(1, length(toks) - 1),
      |             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |           ELSE [] END) AS shingles
      |  FROM tok)
      |SELECT doc_id,
      |       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |              list_transform(list_filter(string_split(text, ''), c -> length(c) > 0),
      |                             c -> CAST(ascii(c) AS BIGINT))),
      |            (a, b) -> (a * 31 + b) % 2147483647) AS BIGINT) AS fp,
      |       CAST(length(shingles) AS BIGINT) AS n_shingles,
      |       CAST(list_min(list_transform(shingles,
      |              s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
      |                     list_transform(list_filter(string_split(s, ''), c -> length(c) > 0),
      |                                    c -> CAST(ascii(c) AS BIGINT))),
      |                   (a, b) -> (a * 31 + b) % 2147483647))) AS BIGINT) AS min_shingle
      |FROM sh""".stripMargin) { (s, d) =>
    graft.ext.GraftExtensions.register(s)
    Tables.documents(s, d).createOrReplaceTempView("graft_f9_docs")
    s.sql("""
      SELECT doc_id,
             graft_rolling_hash(text) AS fp,
             CAST(size(graft_shingle_set(text, 3)) AS BIGINT) AS n_shingles,
             graft_min_shingle_hash(text, 3) AS min_shingle
      FROM graft_f9_docs""")
  }

  // ---- CSV schema evolution (Auto Loader schemaLocation contract) ----
  /** Two-generation ingest: batch 1 lands (doc_id, text, lang); batch 2
    * arrives with a NEW trailing `source` column. The first read infers
    * and PERSISTS the schema (v0.json, bronze_ingestion.py:25,30's
    * `cloudFiles.schemaLocation`); the post-drift read under the rescue
    * contract keeps v0 authoritative and folds the drifted column's
    * values into `_rescued_data` — so a producer adding a column can
    * never silently change a bronze table's shape. (The evolve=true
    * branch — `addNewColumns` — is exercised in PipelineSpec.)
    */
  val s8CsvEvolution = withOracle(
    "s8_csv_evolution",
    """SELECT doc_id, text, lang,
      |       CASE WHEN doc_id >= 250
      |            THEN '{"source":"' || source || '"}' END AS _rescued_data
      |FROM documents""".stripMargin) { (s, d) =>
    val sfName = graft.core.Scratch.pathKey(d)
    val gen = graft.core.Scratch.ensure(s, s"csv_evo/$sfName",
      graft.core.Scratch.key(s, d, "csv-evolution-v1"), "_SEEDED") { g =>
      val docs = Tables.documents(s, d)
      val data = g.resolve("data").toString
      // batch 1, then FIRST CONTACT (persists v0 from batch 1 alone),
      // then batch 2 with the drifted column — the arrival order that
      // makes run 2 a genuine post-drift read.
      docs.filter(col("doc_id") < 250).select("doc_id", "text", "lang")
        .write.mode("overwrite").option("header", "true").csv(data)
      CsvSource.readEvolving(s, data, g.resolve("schemas").toString)
      docs.filter(col("doc_id") >= 250)
        .select("doc_id", "text", "lang", "source")
        .write.mode("append").option("header", "true").csv(data)
      java.nio.file.Files.createFile(g.resolve("_SEEDED"))
    }
    CsvSource.readEvolving(s, gen.resolve("data").toString,
        gen.resolve("schemas").toString, evolve = false)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"),
        col("lang"), col(CsvSource.RescueColumn))
  }

  // ---- Parquet schema evolution (mergeSchema across landed batches) ----
  /** s13 — the columnar twin of s8's CSV evolution: a table whose
    * batches landed over time with DRIFTING schemas (batch 1 before
    * `source`/`n_chars` existed, batch 2 after) reads back as ONE
    * relation under `mergeSchema` — pre-drift rows surface the added
    * columns as NULL, exactly the additive-evolution contract
    * Delta/Iceberg expose. Scale: schema merge is a FOOTER operation
    * (one footer read per file, parallelized), never a data pass; at
    * 100 TB the cost is the file listing the scan already pays.
    * Production note carried in code: mergeSchema handles ADDITIVE
    * drift only — a type change (int -> long) is a conflicting merge
    * and must be handled by a rewrite or a read-side cast layer, which
    * is why the engine's CSV path (s8) rescues rather than merges.
    */
  val s13ParquetEvolution = withOracle(
    "s13_parquet_evolution",
    """SELECT doc_id, text, lang,
      |       CASE WHEN doc_id % 2 = 1 THEN source ELSE NULL END AS source,
      |       CASE WHEN doc_id % 2 = 1 THEN n_chars ELSE NULL END AS n_chars
      |FROM documents""".stripMargin) { (s, d) =>
    val sfName = graft.core.Scratch.pathKey(d)
    // batch2's marker gates the generation: it is written LAST, so a
    // crash between the two writes leaves no marker and the whole
    // generation rebuilds (both writes are mode=overwrite).
    // The derivation tag keys the generation on the actual split +
    // per-batch column sets (s8's convention) — editing them must bust
    // the cache, not serve stale batches under an unchanged DocSchema.
    val dir = graft.core.Scratch.ensure(s, s"pqevo/$sfName",
      graft.core.Scratch.key(s, d,
        DocSchema.json + "|pq-evolution-v1|doc_id%2|b1=id,text,lang" +
          "|b2=id,text,lang,source,n_chars"), "batch2/_SUCCESS") {
      gen =>
        Tables.documents(s, d).filter(col("doc_id") % 2 === 0)
          .select("doc_id", "text", "lang")
          .write.mode("overwrite").parquet(gen.resolve("batch1").toString)
        Tables.documents(s, d).filter(col("doc_id") % 2 === 1)
          .select("doc_id", "text", "lang", "source", "n_chars")
          .write.mode("overwrite").parquet(gen.resolve("batch2").toString)
    }
    s.read.option("mergeSchema", "true")
      .parquet(dir.resolve("batch1").toString, dir.resolve("batch2").toString)
      .select(col("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars"))
  }

  val specs: Seq[QuerySpec] = Seq(s1CsvIngest, s4JsonRoundtrip, s5OrcRoundtrip,
    s7TextRoundtrip, s8CsvEvolution, f5Json, f6Regex, f9SqlKernels,
    s13ParquetEvolution)
}
