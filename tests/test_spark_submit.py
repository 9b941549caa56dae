"""North-rule packaging check: the engine must run via
`spark-submit --py-files pkg.zip` (BASELINE.json north_rule). This drives
the REAL launcher binary in a subprocess — generate then a capped
multi-batch run — from a cwd outside the repo, so the only way executors
see the package is the shipped zip."""

from __future__ import annotations

import json
import shutil
import subprocess
import sys

import pytest

SPARK_SUBMIT = shutil.which("spark-submit")

pytestmark = pytest.mark.skipif(
    SPARK_SUBMIT is None, reason="spark-submit not on PATH"
)


def _submit(tmp_path, zip_path, *args, timeout=240):
    cmd = [
        SPARK_SUBMIT,
        "--master",
        "local[4]",
        "--py-files",
        zip_path,
        "/root/repo/spark_submit_main.py",
        *args,
    ]
    return subprocess.run(
        cmd, cwd=str(tmp_path), capture_output=True, text=True, timeout=timeout
    )


def test_spark_submit_pyfiles_end_to_end(tmp_path):
    sys.path.insert(0, "/root/repo")
    from eventanalysis_spark.session import build_pyfiles_zip

    zip_path = build_pyfiles_zip(str(tmp_path))

    gen = _submit(
        tmp_path, zip_path,
        "generate", "--out", str(tmp_path / "pages"), "--rows", "2000",
    )
    assert gen.returncode == 0, gen.stderr[-2000:]
    assert json.loads(gen.stdout.strip().splitlines()[-1])["written"] == 2000

    run = _submit(
        tmp_path, zip_path,
        "run", "--source", str(tmp_path / "pages"),
        "--warehouse", str(tmp_path / "wh"), "--cap", "1200", "--repeat",
    )
    assert run.returncode == 0, run.stderr[-2000:]
    batches = [
        json.loads(ln) for ln in run.stdout.strip().splitlines()
        if ln.startswith("{")
    ]
    assert len(batches) == 2  # 2000 docs / cap 1200 → 1200 + 800
    assert sum(b["n_input"] for b in batches) == 2000
    for b in batches:
        assert 0 < b["n_routed"] <= b["n_input"]
        assert b["sinks"]


def test_report_commands_overview_rollup_export_samples(tmp_path):
    """The reference eventtool's reporting verbs (AppOverview, AppDiag
    rollup, AppDump CSV export, AppSamples spread files) exist as CLI
    subcommands over a real warehouse. Driven in-process via main(argv)
    — the spark-submit packaging itself is covered by the test above."""
    import os
    import sys

    sys.path.insert(0, "/root/repo")
    import spark_submit_main as cli

    wh = str(tmp_path / "wh")
    pages = str(tmp_path / "pages")
    base = ["--master", "local[4]"]
    assert cli.main(base + ["generate", "--out", pages, "--rows", "1500"]) == 0
    assert cli.main(base + [
        "run", "--source", pages, "--warehouse", wh, "--cap", "1500",
    ]) == 0

    assert cli.main(base + ["overview", "--warehouse", wh, "--sink", "content"]) == 0
    assert cli.main(base + [
        "rollup", "--warehouse", wh, "--sink", "content", "--period", "week",
    ]) == 0
    out_csv = str(tmp_path / "dump")
    assert cli.main(base + [
        "export", "--warehouse", wh, "--sink", "content",
        "--out", out_csv, "--limit", "5",
    ]) == 0
    csvs = [f for f in os.listdir(out_csv) if f.endswith(".csv")]
    assert csvs, "export wrote no csv"
    out_s = str(tmp_path / "samples")
    assert cli.main(base + [
        "samples", "--warehouse", wh, "--sink", "content", "--out", out_s,
        "--k", "3",
    ]) == 0
    assert len(os.listdir(out_s)) == 3


def test_report_commands_create_no_warehouse(tmp_path, capsys):
    """The reading verbs open the warehouse read-only: on a path with no
    pipeline warehouse they print one JSON error line, return 1 and leave
    nothing behind."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import spark_submit_main as cli

    base = ["--master", "local[4]"]
    missing = tmp_path / "missing"
    assert cli.main(base + ["status", "--warehouse", str(missing)]) == 1
    assert cli.main(base + [
        "overview", "--warehouse", str(missing), "--sink", "content",
    ]) == 1
    assert not missing.exists()
    lines = capsys.readouterr().out.splitlines()
    assert [json.loads(x)["error"] for x in lines] == ["no pipeline warehouse"] * 2
    empty = tmp_path / "empty"
    empty.mkdir()
    assert cli.main(base + ["status", "--warehouse", str(empty)]) == 1
    assert os.listdir(empty) == []


def test_dedup_index_and_incremental_cli(tmp_path, spark):
    """Cross-crawl dedup CLI: build the index from crawl 1, dedup crawl 2
    against it, survivors written; format-mismatch append is refused."""
    import sys

    sys.path.insert(0, "/root/repo")
    import spark_submit_main as cli

    base_text = "alpha beta gamma delta epsilon zeta eta theta " * 4
    old = spark.createDataFrame(
        [(i, base_text + f"tail {i}") for i in range(5)]
        + [(i, f"history doc {i} distinct words here " * 3) for i in range(5, 10)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(100, base_text + "tail 2"), (101, "completely new material " * 5)],
        "doc_id long, text string",
    )
    p_old = str(tmp_path / "old")
    p_new = str(tmp_path / "new")
    old.write.parquet(p_old)
    new.write.parquet(p_new)
    idx = str(tmp_path / "idx")
    base = ["--master", "local[4]"]
    assert cli.main(base + [
        "dedup-index", "--source", p_old, "--index", idx,
        "--num-hashes", "32", "--bands", "16",
    ]) == 0
    # incompatible banding refused (exit 1), index untouched
    assert cli.main(base + [
        "dedup-index", "--source", p_old, "--index", idx,
        "--num-hashes", "32", "--bands", "8",
    ]) == 1
    out = str(tmp_path / "survivors")
    assert cli.main(base + [
        "dedup-incremental", "--source", p_new, "--history", p_old,
        "--index", idx, "--out", out,
        "--num-hashes", "32", "--bands", "16", "--threshold", "0.5",
    ]) == 0
    survivors = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert survivors == {101}


def test_link_rank_cli(tmp_path, spark):
    """link-rank verb: href extraction → host edges → PageRank /
    TrustRank over a real pages parquet; ranks parquet written, seeds
    switch to trust mode (unlinked spam island scores 0)."""
    import sys

    sys.path.insert(0, "/root/repo")
    import spark_submit_main as cli

    def page(host, targets):
        body = "".join(f'<a href="https://{t}/x">l</a>' for t in targets)
        return (f"https://{host}/p", f"<html><body>{body}</body></html>".encode())

    rows = [
        page("good.example", ["a.example", "b.example"]),
        page("a.example", ["good.example"]),
        page("b.example", ["a.example"]),
        # spam island: links only within itself, nothing trusted links in
        page("spam1.example", ["spam2.example"]),
        page("spam2.example", ["spam1.example"]),
    ]
    pages = str(tmp_path / "pages")
    spark.createDataFrame(rows, "url string, html binary").write.parquet(pages)
    base = ["--master", "local[4]"]
    out_pr = str(tmp_path / "pr")
    assert cli.main(base + [
        "link-rank", "--source", pages, "--out", out_pr, "--top", "3",
    ]) == 0
    pr = {r["host"]: r["rank"] for r in spark.read.parquet(out_pr).collect()}
    assert set(pr) == {
        "good.example", "a.example", "b.example", "spam1.example",
        "spam2.example",
    }
    # plain PageRank can't tell the spam cycle from the real cluster
    assert pr["spam1.example"] > 0.5
    out_tr = str(tmp_path / "tr")
    assert cli.main(base + [
        "link-rank", "--source", pages, "--out", out_tr,
        "--seeds", "good.example", "--iterations", "6",
    ]) == 0
    tr = {r["host"]: r["rank"] for r in spark.read.parquet(out_tr).collect()}
    assert tr["spam1.example"] == 0.0 and tr["spam2.example"] == 0.0
    assert tr["good.example"] > 0 and tr["a.example"] > 0
    # --pin checkpoint: executor-loss-safe pinning, same ranks bit-for-bit
    out_ck = str(tmp_path / "pr_ck")
    assert cli.main(base + [
        "link-rank", "--source", pages, "--out", out_ck, "--top", "3",
        "--pin", "checkpoint", "--checkpoint-dir", str(tmp_path / "ckpt"),
    ]) == 0
    ck = {r["host"]: r["rank"] for r in spark.read.parquet(out_ck).collect()}
    assert ck == pr
    # --pin checkpoint without a dir is refused up front
    assert cli.main(base + [
        "link-rank", "--source", pages, "--pin", "checkpoint",
    ]) == 1
    # --hits: hub/authority split — every host here both links and is
    # linked, so just check the schema and that the mutual (good,a)
    # pair carries the top authority mass
    out_h = str(tmp_path / "hits")
    assert cli.main(base + [
        "link-rank", "--source", pages, "--out", out_h, "--hits",
    ]) == 0
    hits = {r["host"]: (r["authority"], r["hub"])
            for r in spark.read.parquet(out_h).collect()}
    assert set(hits) == set(pr)
    top_auth = max(v[0] for v in hits.values())
    assert hits["a.example"][0] == top_auth  # linked by good + b


def test_sql_cli(tmp_path, spark):
    """sql verb: warehouse tables registered as views, inline query
    printed as JSONL, file query written as csv cluster-side, empty
    warehouse refused."""
    import os
    import sys

    sys.path.insert(0, "/root/repo")
    import spark_submit_main as cli

    wh = str(tmp_path / "wh")
    pages = str(tmp_path / "pages")
    base = ["--master", "local[4]"]
    assert cli.main(base + ["generate", "--out", pages, "--rows", "1200"]) == 0
    assert cli.main(base + [
        "run", "--source", pages, "--warehouse", wh, "--cap", "1200",
    ]) == 0
    assert cli.main(base + [
        "sql", "--warehouse", wh,
        "--query",
        "SELECT event_class, count(*) AS n FROM sink_content "
        "GROUP BY event_class ORDER BY event_class",
    ]) == 0
    qf = tmp_path / "q.sql"
    qf.write_text(
        "SELECT sink, sum(n) AS rows FROM sink_agg GROUP BY sink ORDER BY sink"
    )
    out = str(tmp_path / "sqlout")
    assert cli.main(base + [
        "sql", "--warehouse", wh, "--file", str(qf),
        "--out", out, "--fmt", "csv",
    ]) == 0
    got = spark.read.option("header", True).csv(out).collect()
    sinks = {r["sink"] for r in got}
    assert "content" in sinks and len(got) >= 3
    assert cli.main(base + [
        "sql", "--warehouse", str(tmp_path / "nope"), "--query", "SELECT 1",
    ]) == 1


def test_dedup_corpus_cli_end_to_end(tmp_path, spark):
    """The one-verb 'dedup this corpus' pipeline: planted exact dups,
    near dups, and cross-crawl dups all collapse; survivors + tombstones
    written; tombstone reasons and duplicate_of pointers are right."""
    import sys

    sys.path.insert(0, "/root/repo")
    import spark_submit_main as cli

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    hist_text = "historical corpus shared boilerplate passage words " * 4
    rows = [
        (0, base),                       # near-dup cluster rep (min id)
        (1, base),                       # exact dup of 0
        (2, base + "tiny tail change"),  # near dup of 0
        (3, "unique document one with its own words entirely " * 3),
        (4, hist_text),                  # exact dup of history doc 90
        (5, "another standalone document nothing like the rest " * 3),
    ]
    old = spark.createDataFrame(
        [(90, hist_text), (91, "old only content here " * 5)],
        "doc_id long, text string",
    )
    src = str(tmp_path / "src"); hist = str(tmp_path / "hist")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    old.write.parquet(hist)
    out = str(tmp_path / "survivors")

    assert cli.main([
        "--master", "local[4]", "dedup-corpus", "--source", src,
        "--out", out, "--history", hist, "--threshold", "0.5",
        "--num-hashes", "32", "--bands", "16",
    ]) == 0

    survivors = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert survivors == {0, 3, 5}
    tomb = {r["doc_id"]: (r["reason"], r["duplicate_of"])
            for r in spark.read.parquet(out + "_tombstones").collect()}
    assert tomb[1] == ("within_corpus", 0)   # exact dup → cluster rep
    assert tomb[2] == ("within_corpus", 0)   # near dup → cluster rep
    assert tomb[4] == ("cross_crawl", 90)    # historical duplicate
    assert set(tomb) == {1, 2, 4}


def test_dedup_corpus_strip_templates(tmp_path, spark):
    """--strip-templates pre-pass: a host-wide boilerplate line that would
    otherwise make unrelated pages near-duplicates is stripped BEFORE
    LSH, so all pages survive — and survive with cleaned text."""
    import sys

    sys.path.insert(0, "/root/repo")
    import spark_submit_main as cli

    boiler = ("shared navigation footer boilerplate cookie banner legal "
              "privacy terms contact sitemap subscribe newsletter social "
              "links copyright")
    rows = [
        (0, "h1", "unique alpha content\n" + boiler),
        (1, "h1", "different beta payload\n" + boiler),
        (2, "h1", boiler + "\nunique gamma text"),
    ]
    src = str(tmp_path / "src2")
    spark.createDataFrame(
        rows, "doc_id long, host string, text string"
    ).write.parquet(src)
    base = ["--master", "local[4]", "dedup-corpus", "--source", src,
            "--threshold", "0.5", "--num-hashes", "32", "--bands", "16"]

    # control: WITHOUT stripping, the shared boilerplate dominates the
    # shingle sets and collapses all three pages to one survivor
    out_raw = str(tmp_path / "surv_raw")
    assert cli.main(base + ["--out", out_raw]) == 0
    assert spark.read.parquet(out_raw).count() == 1

    # with the pre-pass: boilerplate is a host template (3/3 pages) →
    # stripped everywhere; cleaned pages are unrelated → all survive
    out = str(tmp_path / "surv_clean")
    assert cli.main(base + [
        "--out", out, "--strip-templates", "host",
    ]) == 0
    surv = {r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()}
    assert set(surv) == {0, 1, 2}
    assert surv[0] == "unique alpha content"      # byte-exact cleaned text
    assert surv[2] == "unique gamma text"
    assert all(boiler not in t for t in surv.values())
    assert spark.read.parquet(out + "_tombstones").count() == 0


def test_drift_cli(tmp_path, spark, capsys):
    """drift verb: KS/PSI/chi2 report between two crawls — a length-
    biased subset must show positive length drift, and the counts must
    match the inputs; identical snapshots must report zero drift."""
    import json
    import sys

    sys.path.insert(0, "/root/repo")
    import spark_submit_main as cli

    from pyspark.sql import functions as F

    old = str(tmp_path / "old")
    new = str(tmp_path / "new")
    base = ["--master", "local[4]"]
    assert cli.main(base + ["generate", "--out", old, "--rows", "1500"]) == 0
    pages = spark.read.parquet(old)
    n_old = pages.count()
    med = pages.select(F.length("text").alias("l")).approxQuantile(
        "l", [0.5], 0.0
    )[0]
    biased = pages.where(F.length("text") > med)
    n_new = biased.count()
    assert 0 < n_new < n_old
    biased.write.mode("overwrite").parquet(new)

    capsys.readouterr()
    assert cli.main(base + [
        "drift", "--old", old, "--new", new, "--tokens",
    ]) == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert (report["n_old"], report["n_new"]) == (n_old, n_new)
    assert report["length_ks"] > 0 and report["length_psi"] > 0
    assert report["lang_categories"] >= 2
    assert report["unigram_js"] >= 0 and report["vocab_size"] > 0

    capsys.readouterr()
    assert cli.main(base + ["drift", "--old", old, "--new", old]) == 0
    same = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert same["length_ks"] == 0.0 and same["length_psi"] == 0.0
    assert same["lang_chi2"] == 0.0


def test_clean_cli(tmp_path, spark, capsys):
    """clean verb: C4 line filter + doc gates over a hand-built corpus —
    survivors carry cleaned text, audit counts match construction."""
    import json
    import sys

    sys.path.insert(0, "/root/repo")
    import spark_submit_main as cli

    ok_line = "alpha beta gamma delta epsilon."
    junk_line = "no terminal punctuation here at all"
    docs = [
        ("u0", "\n".join([ok_line, junk_line, ok_line, ok_line])),  # keep
        ("u1", "\n".join([ok_line] * 3) + "\nwin big at the casino."),  # badword
        ("u2", "\n".join([ok_line] * 3) + "\nlorem ipsum dolor sit amet."),  # placeholder
        ("u3", "\n".join([ok_line] * 2)),  # too few kept lines
    ]
    src = str(tmp_path / "src")
    out = str(tmp_path / "cleaned")
    spark.createDataFrame(docs, "url string, text string").write.parquet(src)

    capsys.readouterr()
    assert cli.main([
        "--master", "local[4]", "clean",
        "--source", src, "--out", out,
    ]) == 0
    audit = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert audit["n_docs"] == 4 and audit["n_kept"] == 1
    assert audit["n_badword"] == 1 and audit["n_banned_substring"] == 1
    assert audit["n_too_few_lines"] == 1  # u3 only (u1/u2 extra lines pass)

    got = {r.url: r.text for r in spark.read.parquet(out).collect()}
    assert set(got) == {"u0"}
    assert got["u0"] == "\n".join([ok_line, ok_line, ok_line])  # junk line cut


def test_media_dedup_cli(tmp_path, spark):
    """media-dedup verb: near-identical real PNGs collapse to the min-id
    representative; distinct images, audio rows, and the representative
    itself survive; tombstones name the surviving duplicate_of."""
    import sys

    import numpy as np

    sys.path.insert(0, "/root/repo")
    import spark_submit_main as cli
    from test_multimodal import _grid_png

    base = np.where(np.arange(9)[None, :] % 2 == 0, 40.0, 200.0) * np.ones((9, 1))
    variant = base.copy()
    variant[2, 3] = 0.0  # dHash hamming 2 from base
    other = np.random.default_rng(9).integers(0, 256, (9, 9)).astype(np.float64)
    meta = (9, 9, None, None, 100)
    rows = [
        ("m0", "image", "image/png", bytearray(_grid_png(base)), meta),
        ("m1", "image", "image/png", bytearray(_grid_png(base)), meta),  # exact
        ("m2", "image", "image/png", bytearray(_grid_png(variant)), meta),
        ("m3", "image", "image/png", bytearray(_grid_png(other)), meta),
        ("m4", "audio", "audio/wav", bytearray(b"\x00" * 64), meta),
    ]
    src = str(tmp_path / "media")
    spark.createDataFrame(
        rows,
        "media_id string, modality string, mime string, content binary, "
        "meta struct<width:int,height:int,duration_ms:bigint,"
        "sample_rate:int,n_bytes:bigint>",
    ).write.parquet(src)
    out = str(tmp_path / "media_survivors")

    assert cli.main([
        "--master", "local[4]", "media-dedup",
        "--source", src, "--out", out,
    ]) == 0

    survivors = {r["media_id"] for r in spark.read.parquet(out).collect()}
    assert survivors == {"m0", "m3", "m4"}
    tomb = {r["media_id"]: (r["reason"], r["duplicate_of"])
            for r in spark.read.parquet(out + "_tombstones").collect()}
    assert tomb == {
        "m1": ("image_near_dup", "m0"),
        "m2": ("image_near_dup", "m0"),
    }


def test_media_dedup_cli_audio(tmp_path, spark):
    """--modality audio: volume-scaled WAV copy collapses to the min-id
    clip via the acoustic fingerprint; distinct audio survives."""
    import sys

    import numpy as np

    sys.path.insert(0, "/root/repo")
    import spark_submit_main as cli
    from test_multimodal import _make_wav

    rng = np.random.default_rng(31)
    sr = 8000
    t = np.arange(2 * sr) / sr
    base = (0.5 * np.sin(2 * np.pi * 330 * t)
            * (0.4 + 0.3 * np.sin(2 * np.pi * 1.7 * t))).astype(np.float32)
    other = rng.normal(0, 0.3, base.shape).astype(np.float32)
    meta = (None, None, 2000, sr, 100)
    rows = [
        ("a0", "audio", "audio/wav", bytearray(_make_wav(base, sr=sr)), meta),
        ("a1", "audio", "audio/wav",
         bytearray(_make_wav((0.4 * base).astype(np.float32), sr=sr)), meta),
        ("a2", "audio", "audio/wav", bytearray(_make_wav(other, sr=sr)), meta),
    ]
    src = str(tmp_path / "amedia")
    spark.createDataFrame(
        rows,
        "media_id string, modality string, mime string, content binary, "
        "meta struct<width:int,height:int,duration_ms:bigint,"
        "sample_rate:int,n_bytes:bigint>",
    ).write.parquet(src)
    out = str(tmp_path / "a_survivors")
    assert cli.main([
        "--master", "local[4]", "media-dedup", "--modality", "audio",
        "--source", src, "--out", out,
    ]) == 0
    assert {r["media_id"] for r in spark.read.parquet(out).collect()} == {"a0", "a2"}
    tomb = spark.read.parquet(out + "_tombstones").collect()
    assert [(r["media_id"], r["reason"], r["duplicate_of"]) for r in tomb] == [
        ("a1", "audio_near_dup", "a0")
    ]


def test_quality_score_cli(tmp_path, spark):
    """quality-score verb: KN perplexity (self-trained) and LR (labeled)
    both write a scores parquet and print sane quantiles."""
    import io
    import sys
    from contextlib import redirect_stdout

    sys.path.insert(0, "/root/repo")
    import spark_submit_main as cli

    # fluent docs share high-count bigrams (the model rewards them);
    # doc 3 is all-singleton gibberish
    rows = [
        (1, "the cat sat on the mat the cat sat on the mat", True),
        (2, "the cat sat on the mat the dog sat on the mat", True),
        (3, "zz qq xx vv kk jj pp ww", False),
        (4, "the dog sat on the mat the cat sat on the mat", True),
    ]
    src = str(tmp_path / "qdocs")
    spark.createDataFrame(
        rows, "doc_id long, text string, is_good boolean"
    ).write.parquet(src)

    out_kn = str(tmp_path / "kn_scores")
    buf = io.StringIO()
    with redirect_stdout(buf):
        assert cli.main(["--master", "local[4]", "quality-score",
                         "--source", src, "--out", out_kn,
                         "--scorer", "kn"]) == 0
    rep = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert rep["docs"] == 4 and rep["p10"] <= rep["p50"] <= rep["p90"]
    kn = {r["doc_id"]: r["avg_neg_logprob"]
          for r in spark.read.parquet(out_kn).collect()}
    # the gibberish doc is the least fluent under the self-trained LM
    assert kn[3] == max(kn.values())

    out_lr = str(tmp_path / "lr_scores")
    with redirect_stdout(io.StringIO()):
        assert cli.main(["--master", "local[4]", "quality-score",
                         "--source", src, "--out", out_lr,
                         "--scorer", "lr", "--label-col", "is_good",
                         "--buckets", "64"]) == 0
    lr = {r["doc_id"]: r["lr_score"]
          for r in spark.read.parquet(out_lr).collect()}
    assert min(lr[1], lr[2], lr[4]) > lr[3]


def test_drift_cli_vocab_oov(tmp_path, spark, capsys):
    """--vocab-k OOV drift: a new crawl written in novel tokens shows a
    much higher OOV rate against the old crawl's vocab than the old
    crawl's own self-coverage."""
    import sys

    sys.path.insert(0, "/root/repo")
    import spark_submit_main as cli

    old_rows = [(f"u{i}", "the cat sat on the mat", "en") for i in range(20)]
    new_rows = [(f"v{i}", "zorp blix quang fethra womp", "en") for i in range(20)]
    old = str(tmp_path / "do"); new = str(tmp_path / "dn")
    spark.createDataFrame(old_rows, "url string, text string, lang string") \
        .write.parquet(old)
    spark.createDataFrame(new_rows, "url string, text string, lang string") \
        .write.parquet(new)
    capsys.readouterr()
    assert cli.main([
        "--master", "local[4]", "drift", "--old", old, "--new", new,
        "--vocab-k", "50",
    ]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["oov_old_mean"] == 0.0      # old crawl fully covered
    assert rep["oov_new_mean"] == 1.0      # novel tokens: fully OOV


def test_media_dedup_cli_video(tmp_path, spark):
    """--modality video: byte-identical streams collapse (all sampled
    frames match); distinct streams survive."""
    import sys

    sys.path.insert(0, "/root/repo")
    import spark_submit_main as cli

    meta = (None, None, 2000, None, 22)
    rows = [
        ("v0", "video", "video/mp4", bytearray(b"stream-bytes-alpha"), meta),
        ("v1", "video", "video/mp4", bytearray(b"stream-bytes-alpha"), meta),
        ("v2", "video", "video/mp4", bytearray(b"stream-bytes-omega"), meta),
    ]
    src = str(tmp_path / "vmedia")
    spark.createDataFrame(
        rows,
        "media_id string, modality string, mime string, content binary, "
        "meta struct<width:int,height:int,duration_ms:bigint,"
        "sample_rate:int,n_bytes:bigint>",
    ).write.parquet(src)
    out = str(tmp_path / "v_survivors")
    assert cli.main([
        "--master", "local[4]", "media-dedup", "--modality", "video",
        "--source", src, "--out", out,
    ]) == 0
    assert {r["media_id"] for r in spark.read.parquet(out).collect()} == {"v0", "v2"}
    tomb = spark.read.parquet(out + "_tombstones").collect()
    assert [(r["media_id"], r["reason"], r["duplicate_of"]) for r in tomb] == [
        ("v1", "video_near_dup", "v0")
    ]


def test_media_dedup_bytes_modality(tmp_path, spark):
    """media-dedup --modality bytes: CDC chunk overlap pairs a shifted
    byte-duplicate that NO perceptual hash would see (opaque blobs)."""
    import random
    import sys

    sys.path.insert(0, "/root/repo")
    import spark_submit_main as cli

    shared = random.Random(5).randbytes(40_000)
    meta = (None, None, None, None, 40_000)
    rows = [
        ("b0", "blob", "application/octet-stream", bytearray(shared), meta),
        ("b1", "blob", "application/octet-stream",
         bytearray(random.Random(6).randbytes(300) + shared), meta),
        ("b2", "blob", "application/octet-stream",
         bytearray(random.Random(7).randbytes(40_000)), meta),
    ]
    src = str(tmp_path / "blobs")
    spark.createDataFrame(
        rows,
        "media_id string, modality string, mime string, content binary, "
        "meta struct<width:int,height:int,duration_ms:bigint,"
        "sample_rate:int,n_bytes:bigint>",
    ).write.parquet(src)
    out = str(tmp_path / "blob_survivors")
    assert cli.main([
        "--master", "local[4]", "media-dedup", "--modality", "bytes",
        "--source", src, "--out", out, "--min-shared-bytes", "10000",
    ]) == 0
    survivors = {r["media_id"] for r in spark.read.parquet(out).collect()}
    assert survivors == {"b0", "b2"}
    tomb = {r["media_id"]: (r["reason"], r["duplicate_of"])
            for r in spark.read.parquet(out + "_tombstones").collect()}
    assert tomb == {"b1": ("bytes_near_dup", "b0")}
