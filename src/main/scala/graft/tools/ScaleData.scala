package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthesize a larger SF from an existing one by key-offset
  * replication — the tool behind SCALE.md's fixed-cost convergence
  * measurements (the driver's testdata stops at sf0.1; the convergence
  * argument needs a point past it).
  *
  * The replication preserves workload CHARACTER, not just row count:
  *
  *  - `lineitem` / `orders`: each copy offsets the order keys by
  *    copy × (max+1), so fact cardinality scales linearly while the
  *    dimension tables (customer/nation/...) stay fixed — how a real
  *    warehouse grows. Group-key cardinality for q05 (suppkey × year)
  *    is unchanged; join fan-in for q03 scales with the facts.
  *  - `embeddings`: each copy offsets vec_id — the CORPUS grows while
  *    the model stays put: coarse centroids, PQ seeds and the query
  *    batch are all "first-N vec_ids", which the offset keeps pinned
  *    to copy 0, exactly how a production ANN index grows (more
  *    vectors indexed against a fixed trained quantizer). Copies
  *    share vector VALUES, so scaled search results stay well-defined
  *    through the (distance, id) tie-break both engines use.
  *  - `documents`: each copy offsets doc_id AND prefixes every
  *    NON-STOPWORD token with the copy number in digits (`the 1quick
  *    1fox ...`), making non-stopword tokens pairwise disjoint across
  *    copies while preserving the t03 quality score BIT-EXACTLY
  *    (token count, stopword hits and punct count are all unchanged —
  *    see the inline derivation), so the quality gate keeps the same
  *    per-copy set and post-quality pipeline stages finally see a
  *    corpus that scales ∝ SF (the r16 copy-tag artifact, fixed).
  *    Tagging is a Jaccard-preserving bijection per copy, so dedup
  *    pair structure replicates copy 0 per copy. Copy 0 is
  *    byte-identical to the source corpus.
  *  - everything else: copied verbatim (dims don't scale).
  *
  * Output keeps the driver's single-file-per-table layout
  * (`<out>/<table>.parquet` as a FILE) so tools/check.py's DuckDB
  * views read it unchanged.
  *
  * Usage: runMain graft.tools.ScaleData <inDir> <outDir> <copies>
  */
object ScaleData {
  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir, copiesStr) = args
    val copies = copiesStr.toInt
    require(copies >= 1, s"copies must be >= 1, got $copies")
    val spark = graft.core.GraftSession.local(appName = "scale-data")
    import spark.implicits._

    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))

    def replicate(name: String)(xform: (DataFrame, Long) => DataFrame): Unit = {
      val src = spark.read.parquet(s"$inDir/$name.parquet")
      val out = xform(
        src.withColumn("__k", explode(sequence(lit(0L), lit(copies - 1L)))),
        copies.toLong
      ).drop("__k")
      // single part file, then rename to the driver's <table>.parquet
      // FILE layout (DuckDB 1.0 can't read a directory path)
      val tmp = s"$outDir/__tmp_$name"
      out.coalesce(1).write.mode("overwrite").parquet(tmp)
      val tmpDir = new java.io.File(tmp)
      val part = tmpDir.listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(
        part.toPath, java.nio.file.Paths.get(s"$outDir/$name.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      tmpDir.listFiles().foreach(_.delete()); tmpDir.delete()
    }

    val span = spark.read.parquet(s"$inDir/orders.parquet")
      .agg(max($"o_orderkey")).head().getLong(0) + 1
    val embSpan = spark.read.parquet(s"$inDir/embeddings.parquet")
      .agg(max($"vec_id")).head().getLong(0) + 1
    replicate("embeddings") { (df, _) =>
      df.withColumn("vec_id", $"vec_id" + $"__k" * lit(embSpan))
    }
    val docSpan = spark.read.parquet(s"$inDir/documents.parquet")
      .agg(max($"doc_id")).head().getLong(0) + 1

    replicate("lineitem") { (df, _) =>
      df.withColumn("l_orderkey", $"l_orderkey" + $"__k" * lit(span))
    }
    replicate("orders") { (df, _) =>
      df.withColumn("o_orderkey", $"o_orderkey" + $"__k" * lit(span))
    }
    // The copy tag must be QUALITY-NEUTRAL: r16's '~<k>~' prefix on
    // every token sank every non-zero copy at the t03 quality gate
    // ('~' counts as punctuation and the tagged stopwords stop
    // matching the stopword list), so every post-quality pipeline
    // stage saw a copy-0-sized corpus at any SF (SCALE.md r16; the
    // round-16 watch item). t03's score is
    //   1 − |stopword_ratio − 0.4| − punct_ratio
    // so a tag preserves it exactly iff it (a) leaves token count
    // unchanged, (b) leaves stopword tokens untouched and never turns
    // a tagged token INTO a stopword, and (c) adds no punctuation
    // (chars outside [a-z0-9 ]). Digit prefixes on NON-stopword
    // tokens satisfy all three against this corpus, which is asserted
    // strictly [a-z ]: digits are not punct, no source token contains
    // a digit (so '12foo' parses unambiguously as copy 12 — the
    // maximal digit prefix — and can never alias a source token or
    // another copy's tag), and a digit-bearing token is never in the
    // stopword list. Per copy the map token→'<k>'+token (stopwords
    // fixed) is a bijection on tokens and hence on word shingles, so
    // within-copy Jaccard — and with it every dedup/repetition/
    // quality verdict that is a function of token identity structure —
    // replicates copy 0 exactly, while non-stopword tokens stay
    // pairwise disjoint across copies. Residue (measured, documented
    // in SCALE.md): copies now SHARE all-stopword shingles (runs of
    // ≥5 consecutive stopwords, p ≈ 0.065^5 per position) and a doc
    // of ONLY stopwords would be cross-copy byte-identical; both are
    // ~1-in-10^6 events that cannot push a cross-copy pair over any
    // Jaccard threshold, and every checker recomputes the same data
    // both engines read, so they bias no measurement.
    locally {
      val src = spark.read.parquet(s"$inDir/documents.parquet")
      require(src.filter(!$"text".rlike("^[a-z ]*$")).isEmpty,
        "source corpus must be strictly [a-z ] for quality-neutral digit " +
          "tagging (digit-free: tag parse; punct-free: punct_ratio stays 0)")
      val stopAlt = graft.functions.TextFunctions.stopwords.mkString("|")
      replicate("documents") { (df, _) =>
        df.withColumn("doc_id", $"doc_id" + $"__k" * lit(docSpan))
          .withColumn("text",
            when($"__k" === 0, $"text").otherwise(
              regexp_replace($"text",
                lit(s"(?<![a-z0-9])(?!(?:$stopAlt)(?![a-z0-9]))([a-z]+)"),
                concat($"__k".cast("string"), lit("$1")))))
      }
    }
    // `events`: each copy keeps the SAME users but shifts time by
    // copy × (span rounded up to whole days + 1) — the platform ages
    // rather than re-populates. Per-user histories grow ×copies (the
    // bot-user / per-key-timeline axis the sliced as-of join spreads),
    // temporal density per 10-s bucket stays constant (q57 scales with
    // co-occupancy, linearly), the q58 grid grows linearly in days
    // (users fixed — a user-replication scale-up would grow it
    // quadratically), sessionization gains sessions per user, and
    // every windowed/funnel read sees a longer but
    // statistically-identical stream. Whole-day shifts keep hour-of-day
    // and day-of-week profiles (q17/q50) intact. event_id offsets per
    // copy keep ids unique; ties and tie-breaks replay per copy.
    // The raw ts column has shipped as INT64-nanos AND TIMESTAMP_NTZ
    // across testdata generations (Tables.events' lesson) — shift in
    // the SOURCE representation so the output generation is
    // byte-compatible with its input's readers.
    locally {
      val raw = spark.read.parquet(s"$inDir/events.parquet")
      val evSpan = raw.agg(max($"event_id")).head().getLong(0) + 1
      val tsField = raw.schema("ts").dataType
      val dayUs = 86400000000L
      replicate("events") { (df, _) =>
        val shifted = tsField match {
          case org.apache.spark.sql.types.LongType =>
            // INT64 nanos generation
            val spanNs = raw.agg(max($"ts") - min($"ts")).head().getLong(0)
            val shiftNs = (spanNs / (dayUs * 1000) + 1) * dayUs * 1000
            df.withColumn("ts", $"ts" + $"__k" * lit(shiftNs))
          case _ =>
            // timestamp generations (NTZ or tz'd): span via a UTC
            // µs cast (wall-clock-preserving for NTZ under the UTC
            // session tz); timestampadd preserves the source type
            val spanUs = raw.select(
              unix_micros(max($"ts").cast("timestamp")) -
                unix_micros(min($"ts").cast("timestamp"))).head().getLong(0)
            val spanDays = spanUs / dayUs + 1
            df.withColumn("ts",
              expr(s"timestampadd(DAY, __k * $spanDays, ts)"))
        }
        shifted.withColumn("event_id", $"event_id" + $"__k" * lit(evSpan))
      }
    }
    for (t <- graft.core.Tables.names
         if !Set("lineitem", "orders", "documents", "embeddings", "events")(t)) {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$inDir/$t.parquet"),
        java.nio.file.Paths.get(s"$outDir/$t.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    println(s"wrote $outDir at ${copies}x $inDir")
    spark.stop()
  }
}
