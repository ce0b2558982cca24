"""One-call corpus curation: unicode normalization (optional) ->
within-site boilerplate removal (optional) -> language routing (optional)
-> quality filter -> C4 line clean -> word blocklist (optional) -> exact
dedup -> MinHash near-dedup -> SemDeDup semantic dedup (optional) ->
benchmark decontamination (optional, off unless an eval table is given)
-> salted encode, with per-stage reject/lineage manifests and stage-level
resume (VERDICT r4 #4).

This is the integration a 100-TB training-data user actually runs. Every
stage is an already-oracle-attested operator (functions/quality,
functions/dedup, pipeline/checkpoint); this module contributes the
composition contract:

- **Row identity**: a content-derived ``__doc_id`` (md5 over url|ts|text)
  keys every dedup/filter stage — unique per physical row even under
  re-crawled URLs (the id-uniqueness precondition of the id-keyed
  operators), deterministic across retries (a partition-dependent
  monotonically_increasing_id would break resume reproducibility), and
  dropped before encode.
- **Counts conserve**: input = kept + sum(per-stage rejects). Each stage's
  reject table is written under ``out_dir/_rejects/stage=<name>/`` with the
  doc id and url, so the audit trail survives the run.
- **Resume boundary = the curated staging table**: the dedup stages are
  corpus-GLOBAL (near-dup joins cross every input split), so unit-level
  resume cannot apply to them; instead stages 1-4 materialize once into
  ``out_dir/_staging/`` (Spark's atomic _SUCCESS commit) and are skipped
  wholesale on re-run — exactly where an Iceberg pipeline would cut its
  snapshot. The encode stage then resumes unit-by-unit through
  ``pipeline.checkpoint.encode_resumable`` (batch manifests, snapshot log,
  idempotent markers).
- **Encode locality**: the staging write itself applies the salted
  url-host repartition + (host, ts) partition-local sort, so the encoder's
  RLE/delta codecs see the same run structure `encode_web_pipeline` builds
  (nail optimize --sort-by analogue, reference optimize.rs:144-172).

Stage params and counts are stamped into ``out_dir/_curation.json``
(written atomically) — the job-level lineage record alongside the
per-batch encode manifests.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

STAGES = ("url_quality", "extract", "noindex", "normalize", "boilerplate", "lang_filter", "quality",
          "classify", "entropy", "c4_clean", "badwords", "exact_dedup", "prior_dedup",
          "near_dedup", "semantic_dedup", "prior_near_dedup", "decontam")


def _reject_dir(out_dir: str, stage: str) -> str:
    return os.path.join(out_dir, "_rejects", f"stage={stage}")


def curate_and_encode_corpus(
    spark: SparkSession,
    src: str,
    out_dir: str,
    text_col: str = "text",
    url_col: str = "url",
    ts_col: str = "warc_ts",
    quality_rules: dict | None = None,
    do_boilerplate: bool = False,
    boilerplate_max_doc_frac: float = 0.5,
    boilerplate_min_docs: int = 2,
    do_normalize: bool = False,
    drop_noindex: bool = False,
    do_url_quality: bool = False,
    url_quality_rules: dict | None = None,
    robots_src: str | None = None,
    robots_agent: str = "*",
    charset_aware: bool = False,
    lang_keep: list[str] | None = None,
    badwords: list[str] | None = None,
    do_quality: bool = True,
    do_c4_clean: bool = True,
    do_exact_dedup: bool = True,
    do_near_dedup: bool = True,
    near_threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    transitive: bool = False,
    near_score_col: str | None = None,
    do_semdedup: bool = False,
    semdedup_tau: float = 0.9,
    semdedup_k: int = 64,
    semdedup_dim: int = 64,
    semdedup_iters: int = 1,
    classifier_src: str | None = None,
    classifier_dim: int = 1 << 18,
    classifier_bias: float = 0.0,
    classifier_threshold: float = 0.5,
    entropy_rules: dict | None = None,
    prior_src: str | None = None,
    prior_text_col: str | None = None,
    prior_near_dedup: bool = False,
    save_sigs: bool = False,
    dsir_target_src: str | None = None,
    dsir_keep_frac: float = 0.5,
    dsir_buckets: int = 4096,
    eval_src: str | None = None,
    decontam_ngram: int = 13,
    decontam_min_hits: int = 1,
    decontam_min_frac: float = 0.0,
    eval_text_col: str | None = None,
    codecs: dict[str, str] | None = None,
    policy: str = "balanced",
    n_partitions: int | None = None,
    units_per_job: int = 32,
    max_units: int | None = None,
    stage: bool = False,
) -> dict:
    """Run the full curation pipeline over the parquet table at ``src`` and
    encode the survivors into ``out_dir``. Returns the lineage summary dict
    (also persisted as ``out_dir/_curation.json``)::

        {"counts": {"input": N, "kept": K,
                    "rejected": {stage: n, ...}},     # N == K + sum(n)
         "stages": [... ran, with params ...],
         "encode": {"completed": ..., "skipped": ..., "total": ...}}

    Re-invoking after a crash resumes: a committed staging table skips
    stages 1-4; committed encode units are skipped by their markers.
    Rejected rows are parquet audit tables under ``out_dir/_rejects/``.
    """
    from nail_parquet_spark.pipeline.checkpoint import _atomic_json, encode_resumable
    from nail_parquet_spark.pipeline.partition import host_of, salted_repartition_by_host

    if entropy_rules:
        # fail fast on a typo'd rule key, before any stage runs
        from nail_parquet_spark.functions.entropy import entropy_keep_expr

        entropy_keep_expr(entropy_rules)

    os.makedirs(out_dir, exist_ok=True)
    staging = os.path.join(out_dir, "_staging")
    state_path = os.path.join(out_dir, "_curation.json")

    if os.path.exists(os.path.join(staging, "_SUCCESS")) and os.path.exists(state_path):
        with open(state_path) as f:
            state = json.load(f)
    else:
        from nail_parquet_spark.sources.io import read_data

        df = read_data(spark, src)
        extracted = False
        if text_col not in df.columns and "html" in df.columns:
            # raw-crawl input (e.g. a WARC directory): derive the text
            # column from the page markup before any text-keyed stage.
            # Extraction is a projection (no Exchange); rows whose pages
            # yield no text are rejected below like c4_clean empties.
            from nail_parquet_spark.functions.html import (
                html_body_text, html_to_string_charset)

            page = F.col("html")
            if charset_aware:
                # honor declared windows-1252/latin-1 before extraction
                # (WHATWG treatment) instead of lossy UTF-8
                page = html_to_string_charset(page)
            df = df.withColumn(text_col, html_body_text(page))
            extracted = True
        doc_id = F.md5(F.concat_ws(
            "|", F.col(url_col), F.col(ts_col).cast("string"),
            F.coalesce(F.col(text_col), F.lit(""))))
        # each stage reads `cur` at least twice (reject write + kept
        # branch) and the dedup stages join it against itself — persist at
        # stage boundaries so the upstream chain runs once per stage, not
        # once per consumer. At Iceberg scale the same role is played by
        # materializing intermediate tables; MEMORY_AND_DISK spills rather
        # than OOMs when a partition outgrows executor memory.
        from pyspark import StorageLevel

        pinned: list[DataFrame] = []

        def _pin(d: DataFrame) -> DataFrame:
            d = d.persist(StorageLevel.MEMORY_AND_DISK)
            pinned.append(d)
            return d

        cur = _pin(df.withColumn("__doc_id", doc_id))
        n_input = cur.count()
        counts: dict[str, int] = {}
        stages: list[dict] = []

        if do_url_quality:
            # cheapest gate FIRST (RefinedWeb §3.1 ordering): URL-level
            # rules need no body, no extraction, no join — one
            # Exchange-free projection drops asset links, crawler traps,
            # and session-id URLs before anything touches the text.
            from nail_parquet_spark.functions.urls import url_quality_filter

            v = url_quality_filter(cur, "__doc_id", url_col,
                                   rules=url_quality_rules)
            rej = cur.join(v.filter(~F.col("passes")).select("__doc_id"),
                           "__doc_id", "left_semi").select("__doc_id", url_col)
            rej.write.mode("overwrite").parquet(
                _reject_dir(out_dir, "url_quality"))
            counts["url_quality"] = spark.read.parquet(
                _reject_dir(out_dir, "url_quality")).count()
            cur = _pin(cur.join(v.filter("passes").select("__doc_id"),
                                "__doc_id", "left_semi"))
            stages.append({"stage": "url_quality",
                           "rules": url_quality_rules or "defaults",
                           "rule": "len/digits/depth/params/extensions"})

        if extracted:
            emptied = cur.filter(F.coalesce(F.col(text_col), F.lit("")) == "")
            emptied.select("__doc_id", url_col).write.mode("overwrite").parquet(
                _reject_dir(out_dir, "extract"))
            counts["extract"] = spark.read.parquet(
                _reject_dir(out_dir, "extract")).count()
            cur = _pin(cur.filter(
                F.coalesce(F.col(text_col), F.lit("")) != ""))
            stages.append({"stage": "extract", "from": "html",
                           "rule": "body text, pinned html rule set"})

        if drop_noindex:
            # honor the page's robots meta (noindex/none): publishers
            # opted these pages out of indexing, and responsible crawl
            # curation drops them. Needs the raw markup; projection
            # filter, no join.
            if "html" not in df.columns:
                raise ValueError("drop_noindex requires an 'html' column "
                                 "(raw-crawl input)")
            from nail_parquet_spark.functions.html import (
                html_noindex, html_to_string)

            h = F.col("html")
            if dict(df.dtypes).get("html") == "binary":
                h = html_to_string(h)
            flag = html_noindex(h)
            rej = cur.filter(flag).select("__doc_id", url_col)
            rej.write.mode("overwrite").parquet(_reject_dir(out_dir, "noindex"))
            counts["noindex"] = spark.read.parquet(
                _reject_dir(out_dir, "noindex")).count()
            cur = _pin(cur.filter(~flag))
            stages.append({"stage": "noindex",
                           "rule": "robots meta noindex/none"})

        if robots_src:
            # robots.txt compliance (functions/robots.py, pinned RFC 9309
            # subset): drop URLs the host's robots disallows for
            # ``robots_agent``. The corpus at ``robots_src`` carries
            # (host, robots_txt); ONE host-keyed join, longest-prefix
            # verdict is a per-row fold, unknown hosts pass.
            from nail_parquet_spark.functions.robots import (
                parse_robots, robots_corpus, robots_verdict)

            rules = parse_robots(robots_corpus(spark, robots_src),
                                 agent=robots_agent)
            v = robots_verdict(cur, rules, url_col=url_col)
            rej = v.filter(~F.col("robots_allowed")).select("__doc_id", url_col)
            rej.write.mode("overwrite").parquet(_reject_dir(out_dir, "robots"))
            counts["robots"] = spark.read.parquet(
                _reject_dir(out_dir, "robots")).count()
            cur = _pin(v.filter(F.col("robots_allowed"))
                       .drop("robots_allowed"))
            stages.append({"stage": "robots", "src": robots_src,
                           "agent": robots_agent,
                           "rule": "longest-prefix, allow on tie, "
                                   "unknown host allowed"})

        if do_normalize:
            # typography/whitespace canonicalization BEFORE every
            # text-keyed stage (the CCNet ordering): near-identical pages
            # differing only in curly quotes, NBSP, or zero-width chars
            # collapse to ONE exact-dedup fingerprint / MinHash shingle
            # set, and quality signals score the canonical prose. A text
            # REWRITE stage (Exchange-free projection); docs reduced to
            # '' (whitespace/invisible-only pages) are rejected like
            # c4_clean empties. The lineage __doc_id stays keyed to the
            # RAW ingest text, so resume identity is unaffected.
            from nail_parquet_spark.functions.normalize import normalize_text

            cur = _pin(cur.withColumn(text_col,
                                      normalize_text(F.col(text_col))))
            emptied = cur.filter(F.coalesce(F.col(text_col), F.lit("")) == "")
            emptied.select("__doc_id", url_col).write.mode("overwrite").parquet(
                _reject_dir(out_dir, "normalize"))
            counts["normalize"] = spark.read.parquet(
                _reject_dir(out_dir, "normalize")).count()
            cur = _pin(cur.filter(
                F.coalesce(F.col(text_col), F.lit("")) != ""))
            stages.append({"stage": "normalize",
                           "rule": "pinned typography/whitespace chain "
                                   "(functions/normalize.normalize_text)"})

        if do_boilerplate:
            # runs FIRST (extraction-adjacent): within-site repeated lines
            # (nav/footer/cookie text) are stripped before quality scoring
            # sees them, so Gopher signals measure prose, not chrome. A
            # text REWRITE stage like c4_clean — docs reduced to '' are
            # rejected, everything else keeps its row.
            from nail_parquet_spark.functions.quality import remove_boilerplate_lines
            from nail_parquet_spark.functions.urls import registered_domain

            cleaned = remove_boilerplate_lines(
                cur.withColumn("__site", registered_domain(F.col(url_col))),
                "__doc_id", text_col, "__site",
                max_doc_frac=boilerplate_max_doc_frac,
                min_docs=boilerplate_min_docs)
            cur = cur.drop(text_col).join(cleaned, "__doc_id")
            emptied = cur.filter(F.col(text_col) == "")
            emptied.select("__doc_id", url_col).write.mode("overwrite").parquet(
                _reject_dir(out_dir, "boilerplate"))
            counts["boilerplate"] = spark.read.parquet(
                _reject_dir(out_dir, "boilerplate")).count()
            cur = _pin(cur.filter(F.col(text_col) != ""))
            stages.append({"stage": "boilerplate",
                           "max_doc_frac": boilerplate_max_doc_frac,
                           "min_docs": boilerplate_min_docs,
                           "group": f"registered_domain({url_col})"})

        if lang_keep:
            # CCNet-style language routing ahead of the quality rules:
            # the stopword-marker lang ID as an all-columns staged
            # projection (lang_id_stream — one split per row, no id
            # join). Rejects keep their predicted label in the audit
            # table so routing can be replayed per language.
            from nail_parquet_spark.functions.text import lang_id_stream

            pred = _pin(lang_id_stream(cur, text_col,
                                       out_col="__lang_pred"))
            keep_p = F.col("__lang_pred").isin(list(lang_keep))
            rej = pred.filter(~keep_p).select(
                "__doc_id", url_col, F.col("__lang_pred").alias("lang_pred"))
            rej.write.mode("overwrite").parquet(_reject_dir(out_dir, "lang_filter"))
            counts["lang_filter"] = spark.read.parquet(
                _reject_dir(out_dir, "lang_filter")).count()
            cur = _pin(pred.filter(keep_p).drop("__lang_pred"))
            stages.append({"stage": "lang_filter",
                           "keep": sorted(lang_keep)})

        if do_quality:
            from nail_parquet_spark.functions.quality import GOPHER_RULES, gopher_filter

            verdict = gopher_filter(cur, "__doc_id", text_col, rules=quality_rules)
            rej = (cur.join(verdict.filter(~F.col("passes")).select("__doc_id"),
                            "__doc_id", "left_semi")
                   .select("__doc_id", url_col))
            rej.write.mode("overwrite").parquet(_reject_dir(out_dir, "quality"))
            counts["quality"] = spark.read.parquet(
                _reject_dir(out_dir, "quality")).count()
            cur = _pin(cur.join(verdict.filter("passes").select("__doc_id"),
                                "__doc_id", "left_semi"))
            eff = dict(GOPHER_RULES)
            eff.update(quality_rules or {})
            stages.append({"stage": "quality",
                           "rules": {k: eff[k] for k in sorted(eff)}})

        if classifier_src is not None:
            # model-based quality gate (after the rule gate, before the
            # expensive dedup joins shrink nothing): scores come from a
            # broadcast weights table, rejects keep their score in the
            # audit table so threshold tuning can replay offline
            from nail_parquet_spark.functions.classify import linear_text_classifier
            from nail_parquet_spark.sources.io import read_data

            w = read_data(spark, classifier_src)
            scores = linear_text_classifier(
                cur, "__doc_id", text_col, w, classifier_dim,
                bias=classifier_bias)
            bad = scores.filter(F.col("score") < classifier_threshold)
            rej = (cur.join(bad.select("__doc_id", "score"), "__doc_id")
                   .select("__doc_id", url_col, "score"))
            rej.write.mode("overwrite").parquet(_reject_dir(out_dir, "classify"))
            counts["classify"] = spark.read.parquet(
                _reject_dir(out_dir, "classify")).count()
            cur = _pin(cur.join(bad.select("__doc_id"), "__doc_id",
                                "left_anti"))
            stages.append({"stage": "classify", "weights": classifier_src,
                           "dim": classifier_dim, "bias": classifier_bias,
                           "threshold": classifier_threshold})

        if entropy_rules:
            # Shannon-entropy gate (after the rule/model gates): drops the
            # compressibility extremes — char-flood spam (low char entropy)
            # and keyword-stuffed repetition (low word entropy). Keys:
            # min/max_char_entropy, min/max_word_entropy (absent = no
            # bound). One vectorized arrow scan; rejects keep both
            # entropies in the audit table for threshold replay.
            from nail_parquet_spark.functions.entropy import (
                entropy_keep_expr,
                entropy_stats,
            )

            ent = entropy_stats(cur, "__doc_id", text_col)
            bad_e = ent.filter(~entropy_keep_expr(entropy_rules))
            rej = (cur.join(bad_e.select("__doc_id", "char_entropy",
                                         "word_entropy"), "__doc_id")
                   .select("__doc_id", url_col, "char_entropy", "word_entropy"))
            rej.write.mode("overwrite").parquet(_reject_dir(out_dir, "entropy"))
            counts["entropy"] = spark.read.parquet(
                _reject_dir(out_dir, "entropy")).count()
            cur = _pin(cur.join(bad_e.select("__doc_id"), "__doc_id",
                                "left_anti"))
            stages.append({"stage": "entropy",
                           "rules": {k: entropy_rules[k]
                                     for k in sorted(entropy_rules)}})

        if do_c4_clean:
            from nail_parquet_spark.functions.quality import c4_clean_text

            cur = cur.withColumn(
                text_col, c4_clean_text(F.coalesce(F.col(text_col), F.lit(""))))
            emptied = cur.filter(F.col(text_col) == "")
            emptied.select("__doc_id", url_col).write.mode("overwrite").parquet(
                _reject_dir(out_dir, "c4_clean"))
            counts["c4_clean"] = spark.read.parquet(
                _reject_dir(out_dir, "c4_clean")).count()
            cur = _pin(cur.filter(F.col(text_col) != ""))
            stages.append({"stage": "c4_clean"})

        if badwords:
            # C4's word-blocklist document gate, applied on the CLEANED
            # text (the C4 ordering). Pure projection filter — no join,
            # cardinality preserved under duplicate ids.
            from nail_parquet_spark.functions.normalize import badwords_flag

            flag = badwords_flag(F.col(text_col), list(badwords))
            rej = cur.filter(flag).select("__doc_id", url_col)
            rej.write.mode("overwrite").parquet(_reject_dir(out_dir, "badwords"))
            counts["badwords"] = spark.read.parquet(
                _reject_dir(out_dir, "badwords")).count()
            cur = _pin(cur.filter(~flag))
            stages.append({"stage": "badwords", "n_words": len(badwords)})

        if do_exact_dedup:
            from nail_parquet_spark.functions.dedup import dedup_exact

            kept = dedup_exact(cur, "__doc_id", text_col)
            rej = cur.join(kept.select("__doc_id"), "__doc_id", "left_anti")
            rej.select("__doc_id", url_col).write.mode("overwrite").parquet(
                _reject_dir(out_dir, "exact_dedup"))
            counts["exact_dedup"] = spark.read.parquet(
                _reject_dir(out_dir, "exact_dedup")).count()
            cur = _pin(kept)
            stages.append({"stage": "exact_dedup", "policy": "keep-min-doc-id"})

        prior_df = None
        if prior_src is not None:
            # incremental curation: drop docs already committed in a prior
            # snapshot. Exact pass runs after in-batch exact dedup (the
            # batch is already minimal, so the cross join sees fewer rows);
            # the prior side is a ONE-column projection — for an encoded
            # out_dir only the text column's blocks are decoded.
            from nail_parquet_spark.functions.incremental import (
                dedup_against, prior_texts)

            prior_df = _pin(prior_texts(
                spark, prior_src, prior_text_col or text_col))
            kept = dedup_against(cur, prior_df, text_col,
                                 prior_text_col=prior_text_col or text_col)
            rej = cur.join(kept.select("__doc_id"), "__doc_id", "left_anti")
            rej.select("__doc_id", url_col).write.mode("overwrite").parquet(
                _reject_dir(out_dir, "prior_dedup"))
            counts["prior_dedup"] = spark.read.parquet(
                _reject_dir(out_dir, "prior_dedup")).count()
            cur = _pin(kept)
            stages.append({"stage": "prior_dedup", "prior_src": prior_src,
                           "policy": "prior-corpus-wins"})

        if do_near_dedup:
            from nail_parquet_spark.functions.dedup import dedup_near_duplicates

            kept = dedup_near_duplicates(
                cur, "__doc_id", text_col, threshold=near_threshold,
                num_hashes=num_hashes, bands=bands, shingle_k=shingle_k,
                transitive=transitive, score_col=near_score_col)
            rej = cur.join(kept.select("__doc_id"), "__doc_id", "left_anti")
            rej.select("__doc_id", url_col).write.mode("overwrite").parquet(
                _reject_dir(out_dir, "near_dedup"))
            counts["near_dedup"] = spark.read.parquet(
                _reject_dir(out_dir, "near_dedup")).count()
            cur = _pin(kept)
            stages.append({"stage": "near_dedup", "threshold": near_threshold,
                           "num_hashes": num_hashes, "bands": bands,
                           "shingle_k": shingle_k, "transitive": transitive,
                           "score_col": near_score_col})

        if do_semdedup:
            # SemDeDup pass over what the token-level passes left: hashed
            # bag-of-words embeddings -> k-means -> within-cluster cosine
            # drops. Catches paraphrase-grade duplication MinHash misses
            # (shared vocabulary, different shingles). Runs AFTER
            # near_dedup so the O(|cluster|^2) pair space sees the
            # smallest surviving set; semdedup_k scales with corpus size.
            from nail_parquet_spark.functions.embed import semantic_dedup_text

            kept = semantic_dedup_text(
                cur, "__doc_id", text_col, dim=semdedup_dim, k=semdedup_k,
                iters=semdedup_iters, tau=semdedup_tau,
                score_col=near_score_col)
            rej = cur.join(kept.select("__doc_id"), "__doc_id", "left_anti")
            rej.select("__doc_id", url_col).write.mode("overwrite").parquet(
                _reject_dir(out_dir, "semantic_dedup"))
            counts["semantic_dedup"] = spark.read.parquet(
                _reject_dir(out_dir, "semantic_dedup")).count()
            cur = _pin(kept)
            stages.append({"stage": "semantic_dedup", "tau": semdedup_tau,
                           "k": semdedup_k, "dim": semdedup_dim,
                           "iters": semdedup_iters,
                           "score_col": near_score_col})

        if prior_src is not None and prior_near_dedup:
            # near-dup pass vs the prior corpus: MinHash bands joined
            # new-vs-prior ONLY (old-vs-old was settled when the prior
            # snapshot was curated). Runs after in-batch near dedup so the
            # cross candidates come from the smallest surviving set. When
            # the prior out_dir saved its signatures (save_sigs), they are
            # reused instead of recomputed — the steady-state 100-TB path.
            from nail_parquet_spark.functions.incremental import (
                load_signatures, near_dedup_against)

            prior_sigs = None
            sig_mode = "recomputed"
            loaded = load_signatures(spark, prior_src)
            if loaded is not None:
                sigs_df, sig_meta = loaded
                if (sig_meta.get("num_hashes") == num_hashes
                        and sig_meta.get("shingle_k") == shingle_k):
                    prior_sigs = sigs_df
                    sig_mode = "reused"
                else:
                    sig_mode = (f"recomputed (stored params {sig_meta} != "
                                f"k={num_hashes}/shingle={shingle_k})")
            prior_named = prior_df.withColumn(
                "__prior_id", F.md5(F.coalesce(
                    F.col(prior_text_col or text_col), F.lit(""))))
            kept = near_dedup_against(
                cur, prior_named, "__doc_id", text_col,
                prior_id_col="__prior_id",
                prior_text_col=prior_text_col or text_col,
                threshold=near_threshold, num_hashes=num_hashes,
                bands=bands, shingle_k=shingle_k, prior_sigs=prior_sigs)
            rej = cur.join(kept.select("__doc_id"), "__doc_id", "left_anti")
            rej.select("__doc_id", url_col).write.mode("overwrite").parquet(
                _reject_dir(out_dir, "prior_near_dedup"))
            counts["prior_near_dedup"] = spark.read.parquet(
                _reject_dir(out_dir, "prior_near_dedup")).count()
            cur = _pin(kept)
            stages.append({"stage": "prior_near_dedup",
                           "prior_src": prior_src,
                           "threshold": near_threshold,
                           "num_hashes": num_hashes, "bands": bands,
                           "shingle_k": shingle_k,
                           "signatures": sig_mode})

        if dsir_target_src is not None:
            # DSIR importance resampling toward a target domain (Xie et
            # al. 2023): score = length-normalized importance
            # exp(log_weight / max(n_tokens, 1)) — the geometric-mean
            # per-token target/raw ratio, bounded for any doc length —
            # fed to the deterministic weight-proportional sampler, so
            # the kept set is reproducible across reruns. Runs after the
            # dedup stages (weights fit on the deduped distribution).
            from nail_parquet_spark.functions.mixing import weighted_sample
            from nail_parquet_spark.functions.text import dsir_weights
            from nail_parquet_spark.sources.io import read_data

            tgt_df = read_data(spark, dsir_target_src)
            wts = dsir_weights(cur, tgt_df, "__doc_id", text_col,
                               buckets=dsir_buckets)
            scored = cur.join(
                wts.select(
                    "__doc_id",
                    F.exp(F.col("log_weight")
                          / F.greatest(F.col("n_tokens"), F.lit(1)))
                    .alias("__dsir_score")),
                "__doc_id")
            kept = weighted_sample(scored, "__doc_id", "__dsir_score",
                                   dsir_keep_frac).drop("__dsir_score")
            rej = scored.join(kept.select("__doc_id"), "__doc_id", "left_anti")
            rej.select("__doc_id", url_col, "__dsir_score").write.mode(
                "overwrite").parquet(_reject_dir(out_dir, "dsir"))
            counts["dsir"] = spark.read.parquet(
                _reject_dir(out_dir, "dsir")).count()
            cur = _pin(kept)
            stages.append({"stage": "dsir", "target_src": dsir_target_src,
                           "keep_frac": dsir_keep_frac,
                           "buckets": dsir_buckets})

        if eval_src is not None:
            # decontamination runs LAST: the post-dedup corpus is the
            # smallest input, and the eval-set grams broadcast either way
            from nail_parquet_spark.functions.decontam import (
                _contaminated, eval_ngram_hashes)
            from nail_parquet_spark.sources.io import read_data

            ev = eval_ngram_hashes(read_data(spark, eval_src),
                                   eval_text_col or text_col, decontam_ngram)
            bad = _contaminated(cur, ev, "__doc_id", text_col, decontam_ngram,
                                decontam_min_hits, decontam_min_frac)
            rej = cur.join(bad, "__doc_id", "left_semi")
            rej.select("__doc_id", url_col).write.mode("overwrite").parquet(
                _reject_dir(out_dir, "decontam"))
            counts["decontam"] = spark.read.parquet(
                _reject_dir(out_dir, "decontam")).count()
            cur = _pin(cur.join(bad, "__doc_id", "left_anti"))
            stages.append({"stage": "decontam", "eval_src": eval_src,
                           "ngram": decontam_ngram,
                           "min_hits": decontam_min_hits,
                           "min_frac": decontam_min_frac})

        # staging write = the resume snapshot; salted host layout + local
        # (host, ts) sort so the encoder sees compression-friendly runs
        n_parts = n_partitions or spark.sparkContext.defaultParallelism
        out = salted_repartition_by_host(
            cur.drop("__doc_id"), n_parts, url_col=url_col)
        out = (out.withColumn("__h", host_of(url_col))
               .sortWithinPartitions("__h", ts_col).drop("__h"))
        out.write.mode("overwrite").parquet(staging)

        n_kept = spark.read.parquet(staging).count()
        state = {
            "counts": {"input": n_input, "kept": n_kept, "rejected": counts},
            "stages": stages,
            "conserved": n_input == n_kept + sum(counts.values()),
        }
        _atomic_json(state_path, state)
        for d in pinned:
            d.unpersist()

    if save_sigs:
        # signature table of the KEPT corpus (enables a later run's
        # prior_near_dedup to skip recomputing this corpus's MinHash).
        # Written from the committed staging table so resume re-derives
        # the identical table; skipped if already committed.
        from nail_parquet_spark.functions.incremental import (
            SIG_DIR, save_signatures)

        if not os.path.exists(os.path.join(out_dir, SIG_DIR, "_params.json")):
            save_signatures(spark.read.parquet(staging), out_dir,
                            text_col=text_col, num_hashes=num_hashes,
                            shingle_k=shingle_k)
        state["signatures"] = {"num_hashes": num_hashes,
                               "shingle_k": shingle_k}
        _atomic_json(state_path, state)

    # stage=True = write-audit-publish: the curated corpus encodes durably
    # but stays invisible until `maintain --publish` (checkpoint.py WAP)
    enc = encode_resumable(
        spark, staging, out_dir, codecs=codecs, policy=policy,
        units_per_job=units_per_job, max_units=max_units, stage=stage)
    state["encode"] = enc
    _atomic_json(state_path, state)
    return state
