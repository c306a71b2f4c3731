package graft



import java.nio.file.{Files, Paths}

/** Local falsifiability harness for the text-operator family (VERDICT r12
  * item 5).
  *
  * `/root/testdata/sf&#42;/documents.text` is degenerate — every code point is
  * in {space, a-z} — so case-mapping, regex-class, unicode, control-char
  * and NULL/empty-text divergences between Spark and the DuckDB oracle
  * replay green locally BY CONSTRUCTION (the r8-r12 five-round stall).
  * This spec builds a deterministic PLANTED corpus exercising every
  * feature dimension `q_diag_profile` tracks (uppercase, digits,
  * tab/CR/LF/VT/FF, ASCII punctuation + control chars, 2/3/4-byte UTF-8,
  * NFD combining marks, unicode whitespace, Cyrillic/Greek/CJK, NULL and
  * empty and whitespace-only text, NULL lang) plus exact- and near-dup
  * pairs, swaps it in for `documents`, replays EVERY documents-reading
  * oracle-gated catalog entry through the real Verify dump path, and runs
  * the driver-replica compare (`tools/check.py`) against DuckDB on the
  * same parquet. A text operator whose Spark and oracle constructs
  * diverge on any planted feature is now red BEFORE driver contact.
  *
  * Deliberately NOT planted: one-to-many / locale-sensitive case mappings
  * (U+0130 İ, ß, ligatures). `lower()` is engine-owned (JVM vs utf8proc);
  * the production corpus-stats family is caseless by design, but two
  * legacy-pinned entries (q_mixture_reweight, q_text_lm2 etc.) still
  * lower ASCII-only — planting İ would red rows whose driver data can
  * never contain it (q_diag_profile r12: zero feature rows).
  */
class PlantedCorpusSpec extends SparkSpec {

  /** Every oracle-gated catalog entry whose Spark side reads the
    * `documents` table (derived from SparkEntry r13; new text-family
    * entries must be added here — the completeness guard test below
    * cross-checks the list against the live catalog). */
  private val textFamily: Seq[String] = Seq(
    "q_explode_vertical", "q_outliers", "q_dedup_incremental",
    "q_dedup_exact", "q_dedup_spans", "q_dedup_incr_md5", "q_dedup_jaccard",
    "q_contrastive", "q_containment", "q_drop_contained",
    "q_dedup_ppjoin_screen", "q_dedup_ppjoin", "q_dedup_simhash_md5",
    "q_dedup_minhash_md5", "q_dedup_fuzzy", "q_dedup_bloom",
    "q_contamination", "q_novelty", "q_text_oov", "q_text_lm", "q_text_lm2",
    "q_ccnet_buckets", "q_source_divergence", "q_bpe_pairs", "q_bpe_train",
    "q_bpe_segment", "q_bpe_encode", "q_text_quality", "q_text_scored",
    "q_text_nfc", "q_text_fixmojibake", "q_classify_score",
    "q_classify_train", "q_classify_auc", "q_classify_calibration",
    "q_classify_thresholds", "q_curate_packed", "q_temperature_mix",
    "q_source_cap", "q_distinct_hll_md5", "q_distinct_hll_groups",
    "q_hll_algebra", "q_histogram", "q_importance", "q_token_budget",
    "q_profile", "q_shard_manifest", "q_zipf", "q_dup_histogram",
    "q_source_overlap", "q_corpus_stats", "q_quality_topfrac",
    "q_tfidf_terms", "q_heavyhitters", "q_vocab_overlap", "q_topk_per_group",
    "q_weighted_sample", "q_pack_sequences", "q_bm25", "q_hybrid_search",
    "q_chunk", "q_fertility", "q_mixture_reweight", "q_pad_waste",
    "q_sample_k_group", "q_text_scripts", "q_fertility_counts",
    "q_diag_dec_narrow", "q_diag_profile", "q_curate", "q_text_fingerprint",
    "q_text_langid", "q_text_repetition", "q_text_pii", "q_dedup_clusters",
    "q_dedup_canon", "q_dedup_keepbest", "q_split", "q_split_cluster",
    "q_stratified", "q_adaptive_sample", "q_text_boilerplate",
    "q_media_meta", "q_image_dhash_md5", "q_audio_fp_md5", "q_media_frames",
    "q_media_decode", "q_media_transcode", "q_audio_decode",
    "q_audio_resample", "q_video_decode", "q_video_frames", "q_video_mpeg",
    "q_video_mpeg_b", "q_video_mpeg_b_decode", "q_drift", "q_rater_kappa",
    "q_pref_pairs", "q_dict_encode", "q_stream_neardup",
    "q_stream_contamination", "q_epoch_shuffle")
  // q_diag_dec_wide is excluded: its oracle output is DELIBERATELY
  // DECIMAL(20,9) (the int128-repr conviction probe) and check.py's
  // python fetch masks the divergence anyway; the narrow twin covers
  // the construct here.

  test("text-family list tracks the live catalog") {
    val missing = textFamily.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"retired entries still listed: $missing")
    val noOracle = textFamily.filterNot(SparkEntry.oracleSql.contains)
    assert(noOracle.isEmpty, s"listed entries lack oracles: $noOracle")
  }

  test("every text-family entry replays green on the planted corpus") {
    val pyOk = try {
      new ProcessBuilder("python3", "-c", "import duckdb").start().waitFor() == 0
    } catch { case _: Throwable => false }
    assume(pyOk, "python3+duckdb unavailable; driver environment has it")

    val root = tempDir("planted")
    val planted = PlantedCorpus.build(spark, Paths.get(root, "corpus"))
    val out = Paths.get(root, "out")
    Files.createDirectories(out)
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    for (name <- textFamily) {
      try SparkEntry.queries(name)(spark, planted.toString)
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
      catch { case e: Throwable =>
        failures += s"$name: ${e.getClass.getSimpleName} ${String.valueOf(e.getMessage).take(200)}"
      }
    }
    assert(failures.isEmpty,
      s"Spark side failed on the planted corpus:\n${failures.mkString("\n")}")

    Files.writeString(out.resolve("oracle_sql.json"),
      Verify.oracleJson(textFamily.contains))

    val pb = new ProcessBuilder("python3", "tools/check.py",
      planted.toString, out.toString)
    pb.directory(new java.io.File("/root/repo"))
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val log = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    val rc = proc.waitFor()
    assert(rc == 0, s"planted-corpus oracle compare failed:\n" +
      log.linesIterator.filter(l => !l.startsWith("ok")).mkString("\n"))
  }
}
