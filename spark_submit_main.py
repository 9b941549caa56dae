#!/usr/bin/env python
"""spark-submit entry point (north-rule packaging requirement).

Cluster launch:

    ZIP=$(python -c "from eventanalysis_spark.session import build_pyfiles_zip; print(build_pyfiles_zip())")
    spark-submit --py-files "$ZIP" spark_submit_main.py run \\
        --source /data/pages --warehouse /data/wh --cap 20000 --repeat

Local smoke (what the sandbox runs):

    python -m eventanalysis_spark  # not packaged as module main; use:
    spark-submit --master 'local[8]' --py-files "$ZIP" spark_submit_main.py \\
        generate --out /tmp/pages --rows 10000

Subcommands:
  generate  — write the deterministic synthetic pages table
  run       — run the pipeline (one batch, or --repeat until exhausted)
  update    — unattended scheduled cycle: `run` wrapped in a rotating
              logfile (T6, the reference's event_db_updater analog);
              exceptions land in the log and exit 1
  archive   — seal a completed month
  maintain  — compact sink tables and expire old snapshots (S12 VACUUM)
  status    — print watermark + sink counts + last batch metrics
  curate    — training-corpus curation: quality gate + duplicate-cluster
              collapse + optional benchmark decontamination + sampling in
              one flagged pass; writes the kept corpus + prints the audit
  link-rank — crawl-graph host scoring: href extraction → host edge
              list → PageRank (or TrustRank with --seeds; trust flows
              only out of the seed hosts, spam islands score 0; or
              HITS hub/authority with --hits for frontier planning)
  dedup-corpus — the end-to-end dedup command: exact+near dedup →
              connected components → keep representative → optional
              cross-crawl drop vs --history/--index → survivors +
              tombstones (reason + duplicate_of per dropped doc)
  sql       — ad-hoc SQL over the warehouse: every table registered as
              a temp view, results printed as JSONL (bounded) or
              written parquet/csv cluster-side
  drift     — crawl-over-crawl drift report: KS + PSI on the length
              distribution, chi-square + Cramér's V on the lang mix,
              optional unigram KL/JS token divergence (--tokens)
  clean     — C4-style corpus cleaning: line filter + badword /
              placeholder-text doc gates (+ --gopher statistical gate);
              writes survivors with cleaned text, prints the audit
  media-dedup — near-dup collapse over a media table: --modality
              image (dHash) / audio (acoustic fingerprint) / video
              (frame-aligned dHash) / bytes (CDC chunk overlap — exact
              shift-invariant storage dedup); survivors + tombstones
  quality-score — model-based quality scoring: --scorer unigram|bigram|
              kn (self-trained LM perplexity) or nb|lr (supervised
              hashed classifiers); scores parquet + quantile summary
  frontier  — politeness-scheduled crawl frontier: per-host fetch slots
              + mega-host cap, optional link-rank or churn priorities,
              sitemap URL discovery, visited-set exclusion, seed-depth
              gating, crawler-trap template capping, robots.txt (REP)
              gating, and Crawl-delay budgets
  churn     — per-host recrawl priorities: two-snapshot churn table,
              or Cho–Garcia-Molina change rates over a multi-crawl
              history (--crawl-col) → the frontier --churn input
  traps     — mine the crawler-trap report (URL-template explosion
              stats) → the --traps input for the next crawl's frontier
  (plus reporting verbs: overview / rollup / export / samples, and the
  cross-crawl index verbs dedup-index / dedup-incremental)
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(args):
    # under spark-submit the session is configured by the launcher; this
    # builder only fills gaps (UTC, AQE) and is a no-op for set confs
    from eventanalysis_spark.session import get_spark

    return get_spark("eventanalysis-spark", master=args.master)


def _read_warehouse(args):
    """The warehouse of a reporting verb, opened read-only: the verb
    creates nothing on disk. None, after one JSON error line, when the path
    holds no pipeline warehouse (no `_pipeline` table)."""
    from eventanalysis_spark.sources.catalog import Warehouse

    wh = Warehouse(args.warehouse, read_only=True)
    if "_pipeline" not in wh.tables():
        print(json.dumps({"error": "no pipeline warehouse", "path": args.warehouse}))
        return None
    return wh


def _sink_df(spark, wh, sink: str):
    from eventanalysis_spark.pipeline import SINK_PREFIX

    return wh.table(f"{SINK_PREFIX}{sink}").read(spark)


def cmd_generate(args) -> int:
    from eventanalysis_spark.datagen import write_pages

    spark = _spark(args)
    write_pages(spark, args.out, args.rows, seed=args.seed)
    print(json.dumps({"written": args.rows, "path": args.out}))
    return 0


def cmd_run(args) -> int:
    from eventanalysis_spark.runner import update_cycle

    return update_cycle(
        _spark(args), args.source, args.warehouse,
        cap=args.cap, repeat=args.repeat, period=args.period,
    )


def cmd_update(args) -> int:
    from eventanalysis_spark.runner import run_logged, update_cycle

    spark = _spark(args)
    return run_logged(
        lambda: update_cycle(
            spark, args.source, args.warehouse,
            cap=args.cap, repeat=args.repeat, period=args.period,
        ),
        tag=args.tag,
        log_dir=args.log_dir,
    )


def cmd_archive(args) -> int:
    from eventanalysis_spark.sources.archive import build_archive
    from eventanalysis_spark.sources.incremental import Watermark

    wh = _read_warehouse(args)
    if wh is None:
        return 1
    spark = _spark(args)
    wm = Watermark.from_state(wh.table("_pipeline").state())
    info = build_archive(
        _sink_df(spark, wh, args.sink), args.out, args.month, job=args.sink,
        watermark_ts=wm.ts, allow_current=args.allow_current,
    )
    print(json.dumps(info.__dict__ if info else {"empty_month": args.month}))
    return 0


def cmd_maintain(args) -> int:
    from eventanalysis_spark.sources.catalog import Warehouse

    spark = _spark(args)
    wh = Warehouse(args.warehouse)
    out = wh.maintain(
        spark,
        keep_snapshots=args.keep_snapshots,
        target_partitions=args.target_files or None,
    )
    print(json.dumps(out, indent=1))
    return 0


def cmd_curate(args) -> int:
    from pyspark.sql import functions as F

    from eventanalysis_spark.operators.curate import (
        CurationConfig,
        curate_corpus,
        curation_report,
    )

    spark = _spark(args)
    docs = spark.read.parquet(args.source)
    bench = spark.read.parquet(args.benchmark) if args.benchmark else None
    cfg = CurationConfig(
        quality=not args.no_quality,
        min_words=args.min_words,
        min_stopword_hits=args.min_stopwords,
        dedup=not args.no_dedup,
        jaccard_threshold=args.jaccard,
        decontaminate_k=args.decontaminate_k,
        sample_rate=args.sample_rate,
    )
    flagged = curate_corpus(
        docs, text_col=args.text_col, id_col=args.id_col,
        benchmark=bench, config=cfg,
    )
    # one pass: write the curated corpus, report from the same flags
    flagged.persist()
    (flagged.where(F.col("keep"))
     .drop("ok_quality", "cluster_id", "is_representative",
           "n_contaminated_ngrams", "is_contaminated", "in_sample", "keep")
     .write.mode("overwrite").parquet(args.out))
    rep = curation_report(flagged).collect()[0]
    flagged.unpersist()
    print(json.dumps({k: rep[k] for k in rep.asDict()}))
    return 0


def cmd_dedup_index(args) -> int:
    """Build (or extend) the persistent cross-crawl LSH posting index:
    one append per crawl, keyed (band, bucket, doc_id). Index format
    parameters are recorded alongside so later crawls can't silently
    join against an incompatible banding."""
    import os

    from eventanalysis_spark.operators.dedup import lsh_index

    spark = _spark(args)
    docs = spark.read.parquet(args.source)
    idx = lsh_index(
        docs, text_col=args.text_col, id_col=args.id_col,
        num_hashes=args.num_hashes, bands=args.bands, shingle_k=args.shingle_k,
    )
    meta_path = os.path.join(args.index, "_index_format.json")
    fmt = {
        "num_hashes": args.num_hashes, "bands": args.bands,
        "shingle_k": args.shingle_k, "hash_fn": "xxhash64",
    }
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            existing = json.load(f)
        if existing != fmt:
            print(json.dumps({"error": "index format mismatch",
                              "existing": existing, "requested": fmt}))
            return 1
    n = idx.count()
    idx.write.mode("append").parquet(args.index)
    if not os.path.exists(meta_path):
        with open(meta_path, "w") as f:
            json.dump(fmt, f)
    print(json.dumps({"postings_appended": n, "index": args.index}))
    return 0


def cmd_dedup_incremental(args) -> int:
    """Dedup a new crawl against the persisted index + history corpus:
    prints (new_id, old_id, jaccard) matches as JSON lines and optionally
    writes the SURVIVING new docs (left_anti on matched ids)."""
    from pyspark.sql import functions as F

    from eventanalysis_spark.operators.dedup import incremental_near_duplicates

    spark = _spark(args)
    new = spark.read.parquet(args.source)
    old = spark.read.parquet(args.history)
    idx = spark.read.parquet(args.index) if args.index else None
    pairs = incremental_near_duplicates(
        new, old, old_index=idx, text_col=args.text_col, id_col=args.id_col,
        num_hashes=args.num_hashes, bands=args.bands,
        shingle_k=args.shingle_k, threshold=args.threshold,
    ).persist()
    n_pairs = pairs.count()
    if args.out:
        survivors = new.join(
            pairs.select(F.col("new_id").alias(args.id_col)).distinct(),
            args.id_col, "left_anti",
        )
        survivors.write.mode("overwrite").parquet(args.out)
    n_dup_docs = pairs.select("new_id").distinct().count()
    pairs.unpersist()
    print(json.dumps({"candidate_matches": n_pairs, "new_docs_deduped": n_dup_docs,
                      "out": args.out}))
    return 0


def cmd_dedup_corpus(args) -> int:
    """The end-to-end 'dedup this corpus' command users actually run:
    exact + near dedup (MinHash LSH, Jaccard verify) → connected
    components → keep the min-id representative per duplicate cluster →
    optionally also drop docs that near-duplicate a HISTORICAL corpus
    (cross-crawl, via the persisted LSH index) → write SURVIVORS and a
    TOMBSTONES table recording, for every dropped doc, why it was
    dropped (within_corpus | cross_crawl) and which surviving/historical
    doc it duplicates. Every stage is the capped, rep-level scale path
    (operators/dedup.py, operators/cluster.py)."""
    from pyspark.sql import functions as F

    from eventanalysis_spark.operators.cluster import dedup_cluster_assignments
    from eventanalysis_spark.operators.dedup import incremental_near_duplicates

    spark = _spark(args)
    docs = spark.read.parquet(args.source)
    n_in = docs.count()
    n_tpl_lines = 0
    if args.strip_templates:
        # site-boilerplate pre-pass: shared nav/footer lines inflate
        # shingle Jaccard between unrelated pages of the same host, so
        # real pipelines strip templates BEFORE near-dup detection
        from eventanalysis_spark.operators.paragraphs import (
            strip_host_templates,
        )

        cleaned = strip_host_templates(
            docs, host_col=args.strip_templates, text_col=args.text_col,
            id_col=args.id_col, min_pages=args.template_min_pages,
            min_frac=args.template_min_frac,
        )
        docs = (
            docs.drop(args.text_col)
            .join(cleaned, args.id_col)
            .withColumnRenamed("clean_text", args.text_col)
            .persist()
        )
        n_tpl_lines = int(
            docs.agg(F.sum("n_template_lines_removed")).collect()[0][0] or 0
        )
        docs = docs.drop("n_template_lines_removed")
    assign = dedup_cluster_assignments(
        docs, text_col=args.text_col, id_col=args.id_col,
        num_hashes=args.num_hashes, bands=args.bands,
        shingle_k=args.shingle_k, threshold=args.threshold,
        max_bucket_size=args.max_bucket_size,
    ).persist()
    within_tomb = assign.where(~F.col("is_representative")).select(
        F.col("id").alias(args.id_col),
        F.lit("within_corpus").alias("reason"),
        F.col("cluster_id").alias("duplicate_of"),
    )
    reps = assign.where(F.col("is_representative")).select(
        F.col("id").alias(args.id_col)
    )
    survivors = docs.join(reps, args.id_col, "left_semi")
    cross_tomb = None
    if args.history:
        old = spark.read.parquet(args.history)
        idx = spark.read.parquet(args.index) if args.index else None
        pairs = incremental_near_duplicates(
            survivors, old, old_index=idx, text_col=args.text_col,
            id_col=args.id_col, num_hashes=args.num_hashes,
            bands=args.bands, shingle_k=args.shingle_k,
            threshold=args.threshold,
        )
        cross_tomb = pairs.groupBy(
            F.col("new_id").alias(args.id_col)
        ).agg(F.min("old_id").alias("duplicate_of")).select(
            args.id_col, F.lit("cross_crawl").alias("reason"), "duplicate_of"
        )
        survivors = survivors.join(
            cross_tomb.select(args.id_col), args.id_col, "left_anti"
        )
    tombstones = (
        within_tomb.unionByName(cross_tomb)
        if cross_tomb is not None else within_tomb
    )
    tomb_path = args.tombstones or (args.out.rstrip("/") + "_tombstones")
    survivors.write.mode("overwrite").parquet(args.out)
    tombstones.write.mode("overwrite").parquet(tomb_path)
    n_out = spark.read.parquet(args.out).count()
    tomb = spark.read.parquet(tomb_path)
    by_reason = {
        r["reason"]: r["n"]
        for r in tomb.groupBy("reason").agg(
            F.count(F.lit(1)).alias("n")).collect()
    }
    assign.unpersist()
    print(json.dumps({
        "docs_in": n_in, "survivors": n_out,
        "tombstones": {**{"total": n_in - n_out}, **by_reason},
        **({"template_lines_removed": n_tpl_lines}
           if args.strip_templates else {}),
        "out": args.out, "tombstones_path": tomb_path,
    }))
    return 0


def cmd_media_dedup(args) -> int:
    """'Dedup these images' end-to-end: one dHash decode pass over the
    media table (operators/multimodal.py::image_near_dups — codec ladder
    Pillow → stdlib PNG → deterministic fake), pigeonhole Hamming
    candidate join, connected components over the near-dup pairs, keep
    the min-id representative per cluster. Audio clips dedup the same way via --modality audio
    (acoustic fingerprint). Other modalities and oversize payloads pass
    through untouched. Writes SURVIVORS and a
    TOMBSTONES table (media_id, reason, duplicate_of)."""
    from pyspark.sql import functions as F

    from eventanalysis_spark.operators.cluster import connected_components
    from eventanalysis_spark.operators.multimodal import (
        audio_near_dups,
        image_near_dups,
        video_near_dups,
    )

    spark = _spark(args)
    media = spark.read.parquet(args.source)
    n_in = media.count()
    if args.modality == "bytes":
        # exact sub-object storage dedup: CDC chunk overlap instead of a
        # perceptual hash — shift-invariant byte identity
        from eventanalysis_spark.operators.cdc import (
            cdc_chunk_table,
            cdc_shared_pairs,
        )

        chunks = cdc_chunk_table(media, blob_col="content",
                                 id_col="media_id")
        pairs = cdc_shared_pairs(
            chunks,
            min_shared_bytes=args.min_shared_bytes,
            max_postings=args.max_bucket_size or 4096,
        ).select(
            F.col("doc_a").alias("media_a"),
            F.col("doc_b").alias("media_b"),
        )
    else:
        near = {"image": image_near_dups, "audio": audio_near_dups,
                "video": video_near_dups}[args.modality]
        pairs = near(
            media,
            max_hamming=args.max_hamming,
            max_bucket_size=args.max_bucket_size,
            pin=args.pin,
        )
    comp = connected_components(
        pairs, "media_a", "media_b", pin=args.pin,
        checkpoint_every=args.checkpoint_every,
    )
    tombstones = comp.where(F.col("id") != F.col("comp")).select(
        F.col("id").alias("media_id"),
        F.lit(args.modality + "_near_dup").alias("reason"),
        F.col("comp").alias("duplicate_of"),
    )
    survivors = media.join(
        tombstones.select("media_id"), "media_id", "left_anti"
    )
    tomb_path = args.tombstones or (args.out.rstrip("/") + "_tombstones")
    survivors.write.mode("overwrite").parquet(args.out)
    tombstones.write.mode("overwrite").parquet(tomb_path)
    n_out = spark.read.parquet(args.out).count()
    print(json.dumps({
        "media_in": n_in,
        "survivors": n_out,
        "tombstones": n_in - n_out,
        "out": args.out,
        "tombstones_path": tomb_path,
    }))
    return 0


def cmd_overview(args) -> int:
    """AppOverview/AppOverview2.fs analog: per (host, lang, event_class,
    ever) counts with dimension attributes, deterministic order."""
    from eventanalysis_spark.operators.aggregate import overview

    wh = _read_warehouse(args)
    if wh is None:
        return 1
    spark = _spark(args)
    df = overview(
        _sink_df(spark, wh, args.sink),
        wh.table("dim_host").read(spark), wh.table("dim_lang").read(spark),
    )
    if args.out:
        from eventanalysis_spark.sources.exports import export_csv

        export_csv(df, args.out, single_file=True)
        print(json.dumps({"rows": df.count(), "out": args.out}))
    else:
        for r in df.collect():
            print(json.dumps(r.asDict(), default=str))
    return 0


def cmd_rollup(args) -> int:
    """AppDiag.fs analog: day / ISO-week / month rollup of a sink."""
    from eventanalysis_spark.operators.aggregate import period_rollup

    wh = _read_warehouse(args)
    if wh is None:
        return 1
    df = period_rollup(_sink_df(_spark(args), wh, args.sink), period=args.period)
    for r in df.collect():
        print(json.dumps(r.asDict(), default=str))
    return 0


def cmd_export(args) -> int:
    """AppDump.fs analog: filtered/ordered/limited header dump to CSV."""
    from eventanalysis_spark.operators.query import HeaderQuery, query_headers
    from eventanalysis_spark.sources.exports import export_csv

    wh = _read_warehouse(args)
    if wh is None:
        return 1
    q = HeaderQuery(
        ts_min=args.ts_min, ts_max=args.ts_max,
        event_class=args.event_class, host=args.host, lang=args.lang,
        limit=args.limit, reverse=args.descending,
    )
    df = query_headers(_sink_df(_spark(args), wh, args.sink), q)
    export_csv(df, args.out, single_file=args.limit is not None)
    print(json.dumps({"rows": df.count(), "out": args.out}))
    return 0


def cmd_samples(args) -> int:
    """AppSamples.fs analog: evenly-spread k sample files from a sink."""
    from eventanalysis_spark.sources.exports import export_samples

    wh = _read_warehouse(args)
    if wh is None:
        return 1
    paths = export_samples(
        _sink_df(_spark(args), wh, args.sink), args.out, k=args.k, fmt=args.fmt
    )
    print(json.dumps({"files": paths}))
    return 0


def cmd_status(args) -> int:
    from eventanalysis_spark.pipeline import SINK_PREFIX
    from eventanalysis_spark.sources.incremental import Watermark

    wh = _read_warehouse(args)
    if wh is None:
        return 1
    spark = _spark(args)
    state = wh.table("_pipeline").state()
    out = {"watermark": Watermark.from_state(state).to_state(),
           "state": state, "sinks": {}}
    for t in wh.tables():
        if t.startswith(SINK_PREFIX) and t != "sink_agg":
            out["sinks"][t[len(SINK_PREFIX):]] = wh.table(t).read(spark).count()
    print(json.dumps(out, indent=1))
    return 0


def cmd_sql(args) -> int:
    """Ad-hoc SQL over a warehouse: every table registers as a temp view
    under its warehouse name (sink_content, sink_agg, dim_host, ...) and
    the query runs through the same Catalyst planner as the operators —
    predicate pushdown / pruning / AQE apply unchanged. Results print as
    JSONL (driver-bounded by --limit) or write to parquet/csv with full
    parallelism, so big results never collect."""
    from eventanalysis_spark.sources.catalog import Warehouse

    spark = _spark(args)
    wh = Warehouse(args.warehouse)
    # leading-underscore dirs are warehouse internals (_pipeline state,
    # _staging), not data tables; unreadable/empty tables are skipped
    names = []
    for t in wh.tables():
        if t.startswith("_"):
            continue
        try:
            wh.table(t).read(spark).createOrReplaceTempView(t)
            names.append(t)
        except FileNotFoundError:
            continue
    if not names:
        print(json.dumps({"error": "empty warehouse", "path": args.warehouse}))
        return 1
    sql = args.query
    if sql is None:
        with open(args.file) as f:
            sql = f.read()
    df = spark.sql(sql)
    if args.out:
        w = df.write.mode("overwrite")
        if args.fmt == "csv":
            w.option("header", True).csv(args.out)
        else:
            w.parquet(args.out)
        print(json.dumps({"written": args.out, "fmt": args.fmt,
                          "views": sorted(names)}))
    else:
        for r in df.limit(args.limit).collect():
            print(json.dumps(r.asDict(), default=str))
    return 0


def cmd_link_rank(args) -> int:
    """Crawl-graph host scoring: extract hrefs from the raw pages, build
    the weighted host→host edge list, and rank hosts by PageRank — or
    TrustRank when --seeds is given (trust flows only out of the seed
    hosts; unreached hosts score 0). Writes (host, rank) parquet and/or
    prints the top hosts as JSONL."""
    from pyspark.sql import functions as F

    from eventanalysis_spark.operators.linkgraph import (
        extract_links,
        host_edges,
        host_hits,
        host_pagerank,
        host_trustrank,
    )

    spark = _spark(args)
    if args.pin == "checkpoint":
        if not args.checkpoint_dir:
            print(json.dumps({"error": "--pin checkpoint needs --checkpoint-dir"}))
            return 1
        spark.sparkContext.setCheckpointDir(args.checkpoint_dir)
    pages = spark.read.parquet(args.source)
    edges = host_edges(extract_links(pages, url_col=args.url_col,
                                     html_col=args.html_col))
    if args.hits:
        ranks = host_hits(edges, iterations=args.iterations, pin=args.pin)
    elif args.seeds:
        seeds = spark.createDataFrame(
            [(s.strip().lower(),) for s in args.seeds.split(",") if s.strip()],
            "host string",
        )
        ranks = host_trustrank(edges, seeds, iterations=args.iterations,
                               damping=args.damping, pin=args.pin)
    else:
        ranks = host_pagerank(edges, iterations=args.iterations,
                              damping=args.damping, pin=args.pin)
    if args.out:
        ranks.write.mode("overwrite").parquet(args.out)
    if args.hits:
        # directory/aggregator hosts first (hub), then content (authority)
        for r in (
            ranks.orderBy(F.desc("hub"), F.desc("authority"), F.asc("host"))
            .limit(args.top).collect()
        ):
            print(json.dumps({"host": r["host"], "authority": r["authority"],
                              "hub": r["hub"]}))
    else:
        for r in (
            ranks.orderBy(F.desc("rank"), F.asc("host")).limit(args.top)
            .collect()
        ):
            print(json.dumps({"host": r["host"], "rank": r["rank"]}))
    return 0


def cmd_drift(args) -> int:
    """Crawl-over-crawl drift report: did the corpus move between two
    snapshots? One JSON line with (a) two-sample KS on the text-length
    distribution (worst-point drift), (b) PSI over equal-width length
    bands (whole-distribution drift), (c) chi-square + Cramér's V on
    the categorical mix (default: lang), and optionally (d) unigram
    KL/JS token divergence (--tokens; one extra dictionary pass per
    side). Every statistic is one hash aggregate over the tagged union
    — the corpora are never joined row-to-row."""
    from pyspark.sql import functions as F

    from eventanalysis_spark.operators.corpus import corpus_divergence
    from eventanalysis_spark.operators.evalmetrics import (
        chi2_drift,
        ks_statistic,
        psi_drift,
    )

    spark = _spark(args)
    old = spark.read.parquet(args.old)
    new = spark.read.parquet(args.new)

    def tag(df, side):
        return df.select(
            F.length(F.col(args.text_col)).cast("double").alias("__v"),
            F.col(args.cat_col).alias("__c"),
            F.lit(side).alias("__side"),
        )

    tagged = tag(old, "old").unionByName(tag(new, "new"))
    report = {"old": args.old, "new": args.new}
    ks = ks_statistic(tagged, "__v", "__side", "old", "new").collect()[0]
    report["n_old"], report["n_new"] = ks["n_a"], ks["n_b"]
    report["length_ks"] = ks["ks"]
    psi = psi_drift(
        tagged, "__v", "__side", "old", "new",
        n_bins=args.bins, lo=0.0, hi=args.hi,
    ).collect()[0]
    report["length_psi"] = psi["psi"]
    chi = chi2_drift(tagged, "__c", "__side", "old", "new").collect()[0]
    report[f"{args.cat_col}_chi2"] = chi["chi2"]
    report[f"{args.cat_col}_cramers_v"] = chi["cramers_v"]
    report[f"{args.cat_col}_categories"] = chi["n_categories"]
    if args.tokens:
        div = corpus_divergence(old, new, text_col=args.text_col).collect()[0]
        report["unigram_js"] = div["js_div"]
        report["unigram_kl_old_new"] = div["kl_ab"]
        report["vocab_size"] = div["vocab_size"]
    if args.vocab_k:
        # vocabulary-coverage drift: how much of the NEW crawl falls
        # outside the OLD crawl's top-k vocab (tokenizer-rot signal) —
        # read next to its self-coverage baseline on the old crawl
        from eventanalysis_spark.operators.textstats import (
            oov_stats,
            vocab_topk,
        )

        vocab = vocab_topk(old, k=args.vocab_k, text_col=args.text_col)
        for side, df in (("old", old), ("new", new)):
            r = (
                oov_stats(df, vocab=vocab, text_col=args.text_col,
                          id_col=args.id_col)
                .agg(
                    F.round(F.avg("oov_rate"), 6).alias("mean"),
                    F.round(
                        F.expr("percentile(oov_rate, 0.9)"), 6
                    ).alias("p90"),
                )
                .collect()[0]
            )
            report[f"oov_{side}_mean"] = r["mean"]
            report[f"oov_{side}_p90"] = r["p90"]
    print(json.dumps(report, default=str))
    return 0


def cmd_frontier(args) -> int:
    """Plan the next crawl: schedule candidate URLs into politeness
    slots (≤ --per-host-slots fetches per host per slot, --max-per-host
    cap on mega-hosts), optionally prioritized by a (host, rank) parquet
    from `link-rank` — the PageRank/TrustRank → frontier composition.
    Writes the scheduled frontier parquet and prints the per-slot
    capacity report head."""
    from pyspark.sql import functions as F

    from eventanalysis_spark.operators.frontier import (
        frontier_schedule,
        frontier_slot_report,
    )
    from eventanalysis_spark.operators.webfilter import url_parts

    spark = _spark(args)
    urls = spark.read.parquet(args.source)
    if args.sitemaps:
        from eventanalysis_spark.operators.sitemaps import (
            sitemap_frontier_urls,
        )

        sm = sitemap_frontier_urls(spark.read.parquet(args.sitemaps))
        urls = (
            urls.select(F.col(args.url_col))
            .unionByName(sm.select(F.col("url").alias(args.url_col)))
            .distinct()
        )
    if args.visited:
        # already-fetched URLs never re-enter the plan: one left_anti on
        # the url key (AQE broadcasts the visited side when it fits,
        # shuffle-joins otherwise); pair with the churn verb when stale
        # pages SHOULD refetch — visited excludes, churn re-prioritizes
        seen = spark.read.parquet(args.visited).select(
            F.col(args.url_col).alias(args.url_col)
        )
        urls = urls.join(seen, args.url_col, "left_anti")
    if "host" not in urls.columns:
        urls = urls.withColumn("host", url_parts(F.col(args.url_col))["host"])
    if args.depths:
        # depth-cap policy: keep only hosts within --max-host-depth link
        # hops of the seed set (host_crawl_depth output; unreached hosts
        # are absent there and therefore dropped here)
        depths = spark.read.parquet(args.depths).where(
            F.col("depth") <= args.max_host_depth
        ).select("host")
        urls = urls.join(F.broadcast(depths), "host", "left_semi")
    if args.trap_cap is not None or args.traps:
        from eventanalysis_spark.operators.traps import trap_filter

        urls = trap_filter(
            urls,
            traps=(spark.read.parquet(args.traps) if args.traps else None),
            url_col=args.url_col,
            host_col="host",
            keep_per_template=(
                args.trap_cap if args.trap_cap is not None else 100
            ),
            min_urls=args.trap_min_urls,
            min_share=args.trap_min_share,
        )
    budget_col = None
    if args.robots:
        from eventanalysis_spark.operators.robots import (
            robots_filter,
            robots_rules,
        )

        rules = robots_rules(spark.read.parquet(args.robots))
        urls = robots_filter(urls, rules, url_col=args.url_col)
        if args.slot_seconds is not None and args.slot_seconds <= 0:
            # a zero/negative quantum would yield a 0.0 Crawl-delay
            # budget and divide-by-zero slot arithmetic downstream
            raise SystemExit("frontier: --slot-seconds must be > 0")
        if args.slot_seconds is not None:
            # Crawl-delay d + slot quantum s -> at most s/d fetches per
            # slot, never exceeding the global politeness budget
            delays = rules.select(
                "host",
                F.least(
                    F.lit(float(args.per_host_slots)),
                    F.lit(float(args.slot_seconds))
                    / F.greatest(F.col("crawl_delay"), F.lit(1e-9)),
                ).alias("__budget"),
            ).where(F.col("crawl_delay").isNotNull())
            urls = urls.join(F.broadcast(delays), "host", "left")
            budget_col = "__budget"
    priority = None
    if args.ranks and args.churn:
        raise SystemExit(
            "frontier: --ranks and --churn are alternative priority "
            "sources; pass one"
        )
    if args.ranks or args.churn:
        if args.ranks:
            prio = spark.read.parquet(args.ranks).select(
                "host", F.col("rank").alias("__prio")
            )
        else:
            prio = spark.read.parquet(args.churn).select(
                "host", F.col("churn_ratio").alias("__prio")
            )
        urls = urls.join(F.broadcast(prio), "host", "left").withColumn(
            "__prio", F.coalesce("__prio", F.lit(0.0))
        )
        priority = "__prio"
    sched = frontier_schedule(
        urls,
        per_host_slots=args.per_host_slots,
        max_per_host=args.max_per_host,
        url_col=args.url_col,
        priority_col=priority,
        budget_col=budget_col,
    ).drop("__prio", "__budget")
    sched.write.mode("overwrite").parquet(args.out)
    back = spark.read.parquet(args.out)
    rep = frontier_slot_report(back).limit(args.report_slots).collect()
    print(json.dumps({
        "urls_in": urls.count(),
        "urls_scheduled": back.count(),
        "n_slots": back.agg(F.max("slot")).collect()[0][0],
        "slots_head": [
            {"slot": r["slot"], "n_urls": r["n_urls"], "n_hosts": r["n_hosts"]}
            for r in rep
        ],
        "out": args.out,
    }))
    return 0


def cmd_traps(args) -> int:
    """Mine the crawler-trap report from a URL corpus: per-(host,
    template) explosion stats with flagged infinite-subspace templates.
    Writes the trap_stats parquet `frontier --traps` consumes to gate
    the NEXT crawl's frontier without re-mining."""
    from pyspark.sql import functions as F

    from eventanalysis_spark.operators.traps import trap_stats

    spark = _spark(args)
    urls = spark.read.parquet(args.source)
    st = trap_stats(
        urls,
        url_col=args.url_col,
        host_col=("host" if "host" in urls.columns else None),
        min_urls=args.min_urls,
        min_share=args.min_share,
    )
    st.write.mode("overwrite").parquet(args.out)
    back = spark.read.parquet(args.out)
    flagged = back.where(F.col("trapped"))
    top = (
        flagged.orderBy(F.col("n_urls").desc(), "host", "template")
        .limit(args.top)
        .collect()
    )
    print(json.dumps({
        "templates": back.count(),
        "hosts": back.select("host").distinct().count(),
        "flagged": flagged.count(),
        "top_traps": [
            {"host": r["host"], "template": r["template"],
             "n_urls": r["n_urls"], "share": r["share"]}
            for r in top
        ],
        "out": args.out,
    }))
    return 0


def cmd_churn(args) -> int:
    """Per-host crawl-over-crawl churn table: snapshot_churn grouped by
    the url host over two crawl parquets. Writes (host, n_added,
    n_removed, n_changed, n_unchanged, n_total, churn_ratio) — the
    recrawl-priority input `frontier --churn` consumes (volatile hosts
    refetch first, frozen hosts wait). Hash-before-join: payloads never
    cross the exchange."""
    from pyspark.sql import functions as F

    from eventanalysis_spark.operators.corpus import (
        change_rate_estimates,
        snapshot_churn,
    )
    from eventanalysis_spark.operators.webfilter import url_parts

    spark = _spark(args)
    if args.crawl_col:
        # multi-crawl history in ONE parquet (--old): Cho–Garcia-Molina
        # change rates; change_ratio doubles as churn_ratio so
        # `frontier --churn` consumes either verb mode unchanged
        snaps = spark.read.parquet(args.old)
        out = change_rate_estimates(
            snaps,
            group=url_parts(F.col("key"))["host"],
            crawl_col=args.crawl_col,
            key_col=args.url_col,
            content_col=args.text_col,
            group_name="host",
        ).withColumn("churn_ratio", F.col("change_ratio")).orderBy("host")
    else:
        if not args.new:
            raise SystemExit("churn: --new required (or use --crawl-col)")
        old = spark.read.parquet(args.old)
        new = spark.read.parquet(args.new)
        out = snapshot_churn(
            old, new,
            group=url_parts(F.col("key"))["host"],
            key_col=args.url_col,
            content_col=args.text_col,
            group_name="host",
        ).orderBy("host")
    out.write.mode("overwrite").parquet(args.out)
    back = spark.read.parquet(args.out)
    top = (
        back.orderBy(F.col("churn_ratio").desc(), "host")
        .limit(args.top)
        .collect()
    )
    n_col = "n_total" if "n_total" in back.columns else "n_pairs"
    print(json.dumps({
        "hosts": back.count(),
        "top_churn": [
            {"host": r["host"], "churn_ratio": r["churn_ratio"],
             n_col: r[n_col]}
            for r in top
        ],
        "out": args.out,
    }))
    return 0


def cmd_quality_score(args) -> int:
    """Model-based quality scoring over a parquet corpus, one verb for
    the whole scorer family: --scorer unigram|bigram|kn (self-trained
    LM perplexity proxies, CCNet direction) or nb|lr (supervised hashed
    classifiers; --label-col names the boolean training label). Writes
    (id, score columns) parquet and prints a JSON summary with score
    quantiles — the triage artifact quality pipelines sort/select on."""
    from pyspark.sql import functions as F

    spark = _spark(args)
    docs = spark.read.parquet(args.source)
    ic, tc = args.id_col, args.text_col
    if args.scorer == "unigram":
        from eventanalysis_spark.operators.textstats import (
            unigram_logprob_scores as fn,
        )

        scored = fn(docs, text_col=tc, id_col=ic)
        score_col = "avg_neg_logprob"
    elif args.scorer == "bigram":
        from eventanalysis_spark.operators.textstats import (
            bigram_logprob_scores as fn,
        )

        scored = fn(docs, text_col=tc, id_col=ic)
        score_col = "avg_neg_logprob"
    elif args.scorer == "kn":
        from eventanalysis_spark.operators.textstats import (
            kneser_ney_bigram_scores as fn,
        )

        scored = fn(docs, text_col=tc, id_col=ic)
        score_col = "avg_neg_logprob"
    elif args.scorer == "nb":
        from eventanalysis_spark.operators.classify import nb_train_score

        scored = nb_train_score(
            docs, args.label_col, text_col=tc, id_col=ic,
            num_buckets=args.buckets,
        )
        score_col = "nb_score"
    else:  # lr
        from eventanalysis_spark.operators.classify import lr_score, lr_train

        model = lr_train(
            docs, args.label_col, text_col=tc, id_col=ic,
            num_buckets=args.buckets, iterations=args.iterations,
        )
        scored = lr_score(
            docs, model, text_col=tc, id_col=ic, num_buckets=args.buckets
        )
        score_col = "lr_score"
    scored.write.mode("overwrite").parquet(args.out)
    back = spark.read.parquet(args.out)
    qs = back.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.round(F.expr(f"percentile({score_col}, {q})"), 6).alias(f"p{int(q * 100)}")
            for q in (0.1, 0.5, 0.9)
        ],
    ).collect()[0]
    print(json.dumps({
        "scorer": args.scorer, "docs": qs["n"], "score_col": score_col,
        "p10": qs["p10"], "p50": qs["p50"], "p90": qs["p90"],
        "out": args.out,
    }))
    return 0


def cmd_clean(args) -> int:
    """C4-style corpus cleaning (Raffel et al. 2020 §2.2): line-level
    filter (terminal punctuation, min words, banned line terms) + doc
    gates (badword list, lorem-ipsum/brace substrings) and optionally
    the Gopher statistical gate on the CLEANED text (--gopher). Writes
    surviving docs with text replaced by text_clean; prints one JSON
    audit line with per-reason drop counts. One projection + one
    pass — the flags frame is persisted so the write and the audit
    share the scan."""
    from pyspark.sql import functions as F

    from eventanalysis_spark.operators.webfilter import (
        c4_clean,
        gopher_quality_flags,
    )

    spark = _spark(args)
    docs = spark.read.parquet(args.source)
    flags = c4_clean(
        docs,
        text_col=args.text_col,
        id_col=args.id_col,
        min_words_per_line=args.min_words_per_line,
        min_kept_lines=args.min_kept_lines,
        passthrough=True,
    )
    keep = F.col("keep")
    if args.gopher:
        g = gopher_quality_flags(F.col("text_clean"))
        flags = flags.withColumn("__gopher_keep", g["keep"])
        keep = keep & F.col("__gopher_keep")
    flags = flags.withColumn("__final_keep", keep).persist()
    out_cols = [
        F.col("text_clean").alias(args.text_col) if c == args.text_col
        else F.col(c)
        for c in docs.columns
    ]
    flags.where(F.col("__final_keep")).select(*out_cols).write.mode(
        "overwrite"
    ).parquet(args.out)
    audit_aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("__final_keep").cast("long")).alias("n_kept"),
        F.sum(F.col("had_badword").cast("long")).alias("n_badword"),
        F.sum(F.col("had_banned_substring").cast("long")).alias("n_banned_substring"),
        F.sum((F.col("n_kept_lines") < args.min_kept_lines).cast("long")).alias(
            "n_too_few_lines"
        ),
        F.sum("n_lines").alias("lines_in"),
        F.sum("n_kept_lines").alias("lines_kept"),
    ]
    if args.gopher:
        audit_aggs.append(
            F.sum((F.col("keep") & ~F.col("__gopher_keep")).cast("long")).alias(
                "n_gopher_only_drop"
            )
        )
    rep = flags.agg(*audit_aggs).collect()[0]
    flags.unpersist()
    print(json.dumps({k: rep[k] for k in rep.asDict()}, default=str))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="eventanalysis-spark")
    p.add_argument("--master", default=None, help="override master (tests only)")
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("generate")
    g.add_argument("--out", required=True)
    g.add_argument("--rows", type=int, default=10000)
    g.add_argument("--seed", type=int, default=42)
    g.set_defaults(fn=cmd_generate)

    r = sub.add_parser("run")
    r.add_argument("--source", required=True)
    r.add_argument("--warehouse", required=True)
    r.add_argument("--cap", type=int, default=20000)
    r.add_argument("--period", default="day")
    r.add_argument("--repeat", action="store_true")
    r.set_defaults(fn=cmd_run)

    u = sub.add_parser("update")
    u.add_argument("--source", required=True)
    u.add_argument("--warehouse", required=True)
    u.add_argument("--cap", type=int, default=20000)
    u.add_argument("--period", default="day")
    u.add_argument("--repeat", action="store_true")
    u.add_argument("--tag", default="event-db-updater")
    u.add_argument("--log-dir", default=".")
    u.set_defaults(fn=cmd_update)

    a = sub.add_parser("archive")
    a.add_argument("--warehouse", required=True)
    a.add_argument("--sink", required=True)
    a.add_argument("--out", required=True)
    a.add_argument("--month", required=True)
    a.add_argument("--allow-current", action="store_true")
    a.set_defaults(fn=cmd_archive)

    mt = sub.add_parser("maintain")
    mt.add_argument("--warehouse", required=True)
    mt.add_argument("--keep-snapshots", type=int, default=2)
    mt.add_argument("--target-files", type=int, default=0)
    mt.set_defaults(fn=cmd_maintain)

    s = sub.add_parser("status")
    s.add_argument("--warehouse", required=True)
    s.set_defaults(fn=cmd_status)

    ov = sub.add_parser("overview")
    ov.add_argument("--warehouse", required=True)
    ov.add_argument("--sink", required=True)
    ov.add_argument("--out", default=None, help="CSV dir; omit to print JSONL")
    ov.set_defaults(fn=cmd_overview)

    ro = sub.add_parser("rollup")
    ro.add_argument("--warehouse", required=True)
    ro.add_argument("--sink", required=True)
    ro.add_argument("--period", default="day", choices=["day", "week", "month"])
    ro.set_defaults(fn=cmd_rollup)

    ex = sub.add_parser("export")
    ex.add_argument("--warehouse", required=True)
    ex.add_argument("--sink", required=True)
    ex.add_argument("--out", required=True)
    ex.add_argument("--ts-min", default=None)
    ex.add_argument("--ts-max", default=None)
    ex.add_argument("--event-class", default=None)
    ex.add_argument("--host", default=None)
    ex.add_argument("--lang", default=None)
    ex.add_argument("--limit", type=int, default=None)
    ex.add_argument("--descending", action="store_true")
    ex.set_defaults(fn=cmd_export)

    sp = sub.add_parser("samples")
    sp.add_argument("--warehouse", required=True)
    sp.add_argument("--sink", required=True)
    sp.add_argument("--out", required=True)
    sp.add_argument("--k", type=int, default=5)
    sp.add_argument("--fmt", default="text", choices=["text", "xml"])
    sp.set_defaults(fn=cmd_samples)

    c = sub.add_parser("curate")
    c.add_argument("--source", required=True)
    c.add_argument("--out", required=True)
    c.add_argument("--benchmark", default=None,
                   help="parquet of eval docs to decontaminate against")
    c.add_argument("--text-col", default="text")
    c.add_argument("--id-col", default="doc_id")
    c.add_argument("--min-words", type=int, default=50)
    c.add_argument("--min-stopwords", type=int, default=2)
    c.add_argument("--jaccard", type=float, default=0.8)
    c.add_argument("--decontaminate-k", type=int, default=13)
    c.add_argument("--sample-rate", type=float, default=None)
    c.add_argument("--no-quality", action="store_true")
    c.add_argument("--no-dedup", action="store_true")
    c.set_defaults(fn=cmd_curate)

    di = sub.add_parser("dedup-index")
    di.add_argument("--source", required=True)
    di.add_argument("--index", required=True)
    di.add_argument("--text-col", default="text")
    di.add_argument("--id-col", default="doc_id")
    di.add_argument("--num-hashes", type=int, default=64)
    di.add_argument("--bands", type=int, default=32)
    di.add_argument("--shingle-k", type=int, default=3)
    di.set_defaults(fn=cmd_dedup_index)

    dd = sub.add_parser("dedup-incremental")
    dd.add_argument("--source", required=True, help="new crawl parquet")
    dd.add_argument("--history", required=True, help="historical corpus parquet")
    dd.add_argument("--index", default=None,
                    help="persisted lsh index (built on the fly if absent)")
    dd.add_argument("--out", default=None,
                    help="write surviving new docs here")
    dd.add_argument("--text-col", default="text")
    dd.add_argument("--id-col", default="doc_id")
    dd.add_argument("--num-hashes", type=int, default=64)
    dd.add_argument("--bands", type=int, default=32)
    dd.add_argument("--shingle-k", type=int, default=3)
    dd.add_argument("--threshold", type=float, default=0.8)
    dd.set_defaults(fn=cmd_dedup_incremental)

    dc = sub.add_parser("dedup-corpus")
    dc.add_argument("--source", required=True, help="corpus parquet to dedup")
    dc.add_argument("--out", required=True, help="survivors parquet")
    dc.add_argument("--tombstones", default=None,
                    help="tombstones parquet (default <out>_tombstones)")
    dc.add_argument("--history", default=None,
                    help="also drop near-dups of this historical corpus")
    dc.add_argument("--index", default=None,
                    help="persisted lsh index for --history")
    dc.add_argument("--text-col", default="text")
    dc.add_argument("--id-col", default="doc_id")
    dc.add_argument("--num-hashes", type=int, default=64)
    dc.add_argument("--bands", type=int, default=32)
    dc.add_argument("--shingle-k", type=int, default=3)
    dc.add_argument("--threshold", type=float, default=0.8)
    dc.add_argument("--max-bucket-size", type=int, default=4096)
    dc.add_argument("--strip-templates", default=None, metavar="HOST_COL",
                    help="pre-pass: strip per-host template lines (site "
                         "boilerplate) keyed on this column before dedup")
    dc.add_argument("--template-min-pages", type=int, default=2)
    dc.add_argument("--template-min-frac", type=float, default=0.5)
    dc.set_defaults(fn=cmd_dedup_corpus)

    md = sub.add_parser("media-dedup")
    md.add_argument("--source", required=True, help="media parquet (MEDIA_SCHEMA)")
    md.add_argument("--out", required=True, help="survivors parquet")
    md.add_argument("--tombstones", default=None,
                    help="tombstones parquet (default <out>_tombstones)")
    md.add_argument("--modality", default="image",
                    choices=["image", "audio", "video", "bytes"],
                    help="dedup images (dHash), audio clips (acoustic "
                         "fingerprint), or videos (frame-aligned dHash, "
                         "all sampled frames must match); other "
                         "modalities pass through")
    md.add_argument("--max-hamming", type=int, default=6,
                    help="dHash Hamming radius (≤ 7 with the 8-block join)")
    md.add_argument("--max-bucket-size", type=int, default=4096)
    md.add_argument("--pin", default="local",
                    help="materialization strategy: local|persist|checkpoint")
    md.add_argument("--checkpoint-every", type=int, default=4)
    md.add_argument("--min-shared-bytes", type=int, default=4096,
                help="bytes modality: min CDC shared bytes to pair")
    md.set_defaults(fn=cmd_media_dedup)

    fr = sub.add_parser("frontier")
    fr.add_argument("--source", required=True,
                    help="candidate urls parquet (url[, host, ...])")
    fr.add_argument("--out", required=True, help="scheduled frontier parquet")
    fr.add_argument("--ranks", default=None,
                    help="(host, rank) parquet from link-rank → priority")
    fr.add_argument("--churn", default=None,
                    help="(host, churn_ratio) parquet from the churn verb "
                         "→ recrawl priority (volatile hosts first)")
    fr.add_argument("--robots", default=None,
                    help="(host, content) robots.txt parquet → REP gating "
                         "before scheduling")
    fr.add_argument("--sitemaps", default=None,
                    help="(host, content) sitemap XML parquet → union "
                         "declared page URLs into the candidate set")
    fr.add_argument("--visited", default=None,
                    help="already-crawled urls parquet → left_anti "
                         "excluded from the plan")
    fr.add_argument("--depths", default=None,
                    help="(host, depth) parquet from host_crawl_depth → "
                         "keep only hosts within --max-host-depth hops "
                         "of the seeds")
    fr.add_argument("--max-host-depth", type=int, default=3)
    fr.add_argument("--trap-cap", type=int, default=None,
                    help="cap each exploding URL template (crawler trap) "
                         "to this many URLs before scheduling (default 100 "
                         "when --traps is given)")
    fr.add_argument("--traps", default=None,
                    help="precomputed trap_stats parquet (traps verb) — "
                         "gate this frontier with the PREVIOUS crawl's "
                         "trap report instead of re-mining")
    fr.add_argument("--trap-min-urls", type=int, default=1000)
    fr.add_argument("--trap-min-share", type=float, default=0.10)
    fr.add_argument("--slot-seconds", type=float, default=None,
                    help="slot time quantum; with --robots, hosts "
                         "declaring Crawl-delay get at most "
                         "slot_seconds/delay fetches per slot")
    fr.add_argument("--url-col", default="url")
    fr.add_argument("--per-host-slots", type=int, default=1)
    fr.add_argument("--max-per-host", type=int, default=None)
    fr.add_argument("--report-slots", type=int, default=5)
    fr.set_defaults(fn=cmd_frontier)

    tp = sub.add_parser("traps")
    tp.add_argument("--source", required=True, help="url corpus parquet")
    tp.add_argument("--out", required=True, help="trap report parquet")
    tp.add_argument("--url-col", default="url")
    tp.add_argument("--min-urls", type=int, default=1000)
    tp.add_argument("--min-share", type=float, default=0.10)
    tp.add_argument("--top", type=int, default=5)
    tp.set_defaults(fn=cmd_traps)

    ch = sub.add_parser("churn")
    ch.add_argument("--old", required=True,
                    help="previous crawl parquet (or the multi-crawl "
                         "history when --crawl-col is given)")
    ch.add_argument("--new", default=None, help="current crawl parquet")
    ch.add_argument("--crawl-col", default=None,
                    help="multi-crawl mode: history parquet has this "
                         "crawl-id column → Cho–Garcia-Molina change "
                         "rates (lambda_hat, revisit_interval) instead "
                         "of the two-snapshot diff")
    ch.add_argument("--out", required=True, help="per-host churn parquet")
    ch.add_argument("--url-col", default="url")
    ch.add_argument("--text-col", default="text")
    ch.add_argument("--top", type=int, default=5)
    ch.set_defaults(fn=cmd_churn)

    qsv = sub.add_parser("quality-score")
    qsv.add_argument("--source", required=True, help="corpus parquet")
    qsv.add_argument("--out", required=True, help="scores parquet")
    qsv.add_argument("--scorer", default="kn",
                     choices=["unigram", "bigram", "kn", "nb", "lr"])
    qsv.add_argument("--label-col", default=None,
                     help="boolean label column (nb/lr scorers)")
    qsv.add_argument("--text-col", default="text")
    qsv.add_argument("--id-col", default="doc_id")
    qsv.add_argument("--buckets", type=int, default=4096)
    qsv.add_argument("--iterations", type=int, default=3, help="lr rounds")
    qsv.set_defaults(fn=cmd_quality_score)

    sq = sub.add_parser("sql")
    sq.add_argument("--warehouse", required=True)
    grp = sq.add_mutually_exclusive_group(required=True)
    grp.add_argument("--query", default=None, help="inline SQL")
    grp.add_argument("--file", default=None, help="read SQL from file")
    sq.add_argument("--out", default=None,
                    help="write results here (distributed); omit to print JSONL")
    sq.add_argument("--fmt", default="parquet", choices=["parquet", "csv"])
    sq.add_argument("--limit", type=int, default=100,
                    help="max printed rows (ignored with --out)")
    sq.set_defaults(fn=cmd_sql)

    lr = sub.add_parser("link-rank")
    lr.add_argument("--source", required=True, help="pages parquet (url, html)")
    lr.add_argument("--out", default=None, help="write (host, rank) parquet here")
    lr.add_argument("--seeds", default=None,
                    help="comma-separated trusted hosts → TrustRank; omit for PageRank")
    lr.add_argument("--hits", action="store_true",
                    help="HITS hub/authority scores instead of PageRank/TrustRank")
    lr.add_argument("--pin", default="local",
                    choices=["local", "persist", "checkpoint"],
                    help="iteration pin strategy (plans/pin.py): checkpoint = executor-loss-safe long runs")
    lr.add_argument("--checkpoint-dir", default=None,
                    help="reliable checkpoint dir for --pin checkpoint")
    lr.add_argument("--iterations", type=int, default=5)
    lr.add_argument("--damping", type=float, default=0.85)
    lr.add_argument("--top", type=int, default=20)
    lr.add_argument("--url-col", default="url")
    lr.add_argument("--html-col", default="html")
    lr.set_defaults(fn=cmd_link_rank)

    dr = sub.add_parser("drift")
    dr.add_argument("--old", required=True, help="previous-crawl pages parquet")
    dr.add_argument("--new", required=True, help="current-crawl pages parquet")
    dr.add_argument("--text-col", default="text")
    dr.add_argument("--cat-col", default="lang",
                    help="categorical column for the chi-square mix test")
    dr.add_argument("--bins", type=int, default=10,
                    help="PSI equal-width length bands")
    dr.add_argument("--hi", type=float, default=5000.0,
                    help="PSI upper length bound (values clamp into edge bins)")
    dr.add_argument("--tokens", action="store_true",
                    help="also compute unigram KL/JS token divergence")
    dr.add_argument("--vocab-k", type=int, default=0,
                    help="also report OOV-rate drift vs the old crawl's "
                         "top-k vocabulary (0 = off)")
    dr.add_argument("--id-col", default="url",
                    help="doc id column for the --vocab-k OOV aggregate")
    dr.set_defaults(fn=cmd_drift)

    cl = sub.add_parser("clean")
    cl.add_argument("--source", required=True, help="pages parquet to clean")
    cl.add_argument("--out", required=True, help="cleaned-corpus parquet dir")
    cl.add_argument("--text-col", default="text")
    cl.add_argument("--id-col", default="url")
    cl.add_argument("--min-words-per-line", type=int, default=5)
    cl.add_argument("--min-kept-lines", type=int, default=3)
    cl.add_argument("--gopher", action="store_true",
                    help="also require the Gopher statistical gate on the cleaned text")
    cl.set_defaults(fn=cmd_clean)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
