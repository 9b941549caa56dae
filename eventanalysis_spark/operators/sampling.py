"""Training-data sampling + decontamination operators.

Large-scale training pipelines need deterministic, resumable sampling —
"take 3% of commoncrawl, 30% of wikipedia, cap each language at N docs,
and drop anything that overlaps the eval benchmarks". Random sampling
(df.sample) is neither reproducible across retried tasks nor resumable;
these operators derive every decision from a content hash, so the same
input always yields the same sample regardless of partitioning, retries,
or cluster size (the same determinism contract as the reference's
record-id-driven batching, /root/reference/Lcl.EventLog/Jobs/Database/
OpenDbV2.cs:588-591, re-expressed for web-scale corpora).

All hashes are the 60-bit md5 prefix (dedup.hash60_md5) so every operator
has an exact DuckDB oracle. Scale notes per operator below."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from eventanalysis_spark.operators.dedup import hash60_md5

# sampling decisions use hash buckets in [0, 1e6): rate 0.123456 keeps
# buckets < 123456 — exactly representable, SQL-replicable
BUCKETS = 1_000_000


def sample_bucket(key: Column | str) -> Column:
    """Deterministic sample bucket in [0, BUCKETS) from a key column.
    Non-string keys should be cast to string by the caller so the md5
    input is well-defined and SQL-replicable."""
    key = F.col(key) if isinstance(key, str) else key
    return hash60_md5(key) % BUCKETS


def hash_sample(
    df: DataFrame,
    rate: float,
    key_col: Column | str = "url",
    salt: str = "",
) -> DataFrame:
    """Deterministic rate-sample: keep rows whose key hashes below the
    rate threshold. Pure narrow filter — no shuffle, no RNG state, pushes
    down to the scan, and the SAME rows survive at any parallelism (task
    retries and cluster resizes cannot change the sample).

    Composition: nested samples with the SAME salt share one bucket per
    key, so thresholds intersect — rate 0.5 then 0.2 yields min = 0.2
    (subset semantics: the 0.2 sample is always a subset of the 0.5
    sample, which is what resumable shrink-the-corpus workflows want).
    For INDEPENDENT multiplicative stages (0.5 then 0.2 = 0.1), give each
    stage a distinct `salt` — the salt is folded into the hashed key, so
    distinct salts draw independent buckets."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0,1], got {rate}")
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    if salt:
        key = F.concat(F.lit(salt + "\x1f"), key)
    return df.where(sample_bucket(key) < int(rate * BUCKETS))


def stratified_sample(
    df: DataFrame,
    rates: DataFrame,
    strata_cols: list[str] | None = None,
    key_col: Column | str = "url",
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling — the training-mix operator
    ("3% of class A, 30% of class B"). `rates` is a tiny DataFrame of
    (strata..., rate double); strata with no row get `default_rate`.

    Scale shape: the rates table is KBs → broadcast left join, so the fact
    side never shuffles; the keep decision is the same narrow hash filter
    as hash_sample."""
    strata_cols = strata_cols or [c for c in rates.columns if c != "rate"]
    r = rates.select(
        *[F.col(c).alias(f"__s_{c}") for c in strata_cols],
        F.col("rate").alias("__rate"),
    )
    cond = None
    for c in strata_cols:
        eq = df[c].eqNullSafe(F.col(f"__s_{c}"))
        cond = eq if cond is None else cond & eq
    return (
        df.join(F.broadcast(r), cond, "left")
        .where(
            sample_bucket(key_col)
            # floor semantics on both engines: exact-binary rates (0.25,
            # 0.125, ...) are recommended so rate*BUCKETS is integral
            < F.floor(F.coalesce(F.col("__rate"), F.lit(default_rate)) * BUCKETS).cast("long")
        )
        .drop(*[f"__s_{c}" for c in strata_cols], "__rate")
    )


def quota_sample(
    df: DataFrame,
    quotas: DataFrame,
    strata_cols: list[str] | None = None,
    key_col: Column | str = "url",
    default_quota: int = 0,
) -> DataFrame:
    """Exact per-stratum quota ("at most N docs per language"), chosen in
    deterministic hash order so the selection is stable across runs and
    partitionings. `quotas` is a tiny (strata..., quota long) DataFrame.

    Scale shape: ONE shuffle by the strata key (the unavoidable minimum
    for exact per-group top-k) + broadcast quota join; rank is row_number
    over (hash, key) inside each stratum — Spark runs it as a partial
    sort per group, not a global sort. A stratum so hot it swamps one
    reducer is exactly the hot-host case: pre-filter with
    stratified_sample (rate ≈ quota/|stratum| upper bound) to shrink the
    shuffled volume."""
    strata_cols = strata_cols or [c for c in quotas.columns if c != "quota"]
    q = quotas.select(
        *[F.col(c).alias(f"__s_{c}") for c in strata_cols],
        F.col("quota").alias("__quota"),
    )
    cond = None
    for c in strata_cols:
        eq = df[c].eqNullSafe(F.col(f"__s_{c}"))
        cond = eq if cond is None else cond & eq
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    w = Window.partitionBy(*[df[c] for c in strata_cols]).orderBy(
        sample_bucket(key).asc(), key.asc()
    )
    return (
        df.join(F.broadcast(q), cond, "left")
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= F.coalesce(F.col("__quota"), F.lit(default_quota)))
        .drop(*[f"__s_{c}" for c in strata_cols], "__quota", "__rn")
    )


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct word k-shingles as strings (lowercased, whitespace-split)
    — SQL-replicable (DuckDB list_transform twin), shared by the
    decontamination operators."""
    t = F.lower(F.trim(text))
    toks = F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )

    # let-binding (transform over a 1-element array): binds the token
    # array once so the tokenizer doesn't re-run per window (the
    # shingles() O(tokens²) bug)
    def _windows(tt: Column) -> Column:
        n = F.size(tt)
        return F.array_distinct(
            F.when(n == 0, F.array().cast("array<string>")).otherwise(
                F.transform(
                    F.sequence(F.lit(0), F.greatest(n - k, F.lit(0))),
                    lambda i: F.concat_ws(" ", F.slice(tt, i + 1, k)),
                )
            )
        )

    return F.get(F.transform(F.array(toks), _windows), 0)


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    k: int = 13,
    threshold: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
    method: str = "broadcast",
) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing ≥ `threshold`
    word k-grams with any benchmark/eval document (the standard 13-gram
    contamination rule). Returns docs + `n_contaminated_ngrams` +
    `is_contaminated`; filter on ~is_contaminated to clean.

    Two scale shapes:
      - method='broadcast' (default): the distinct benchmark gram set is
        aggregated to ONE array and broadcast; each doc computes
        size(array_intersect(grams, bench)) in a single narrow pass — no
        explode, no shuffle of the corpus. Right for real eval suites
        (10^5-10^6 grams, tens of MB).
      - method='join': docs explode to (id, gram) and inner-join the
        distinct benchmark grams, then count per doc. The corpus shuffles
        by gram hash — use when the benchmark side outgrows broadcast.
    Both produce identical results (oracle-checked)."""
    bench_text_col = bench_text_col or text_col
    bench_grams = (
        benchmark.select(
            F.explode(word_shingles(F.col(bench_text_col), k)).alias("gram")
        )
        .distinct()
    )
    doc_grams = docs.withColumn("__grams", word_shingles(F.col(text_col), k))
    if method == "broadcast":
        bench_arr = bench_grams.agg(F.collect_set("gram").alias("__bench"))
        hits = (
            doc_grams.crossJoin(F.broadcast(bench_arr))
            .withColumn(
                "n_contaminated_ngrams",
                F.size(F.array_intersect("__grams", "__bench")).cast("long"),
            )
            .drop("__grams", "__bench")
        )
    elif method == "join":
        exploded = doc_grams.select(
            F.col(id_col).alias("__did"), F.explode("__grams").alias("gram")
        )
        counts = (
            exploded.join(bench_grams, "gram")
            .groupBy("__did")
            .agg(F.count(F.lit(1)).alias("n_contaminated_ngrams"))
        )
        hits = (
            doc_grams.drop("__grams")
            .join(counts, doc_grams[id_col] == counts["__did"], "left")
            .drop("__did")
            .withColumn(
                "n_contaminated_ngrams",
                F.coalesce(F.col("n_contaminated_ngrams"), F.lit(0)),
            )
        )
    else:
        raise ValueError(f"method must be 'broadcast' or 'join', got {method!r}")
    return hits.withColumn(
        "is_contaminated", F.col("n_contaminated_ngrams") >= threshold
    )


def split_corpus(
    df: DataFrame,
    fractions: dict[str, float],
    key_col: Column | str = "url",
    salt: str = "split",
) -> DataFrame:
    """Deterministic disjoint-and-exhaustive corpus split — the
    train/val/test assignment. `fractions` maps split name → fraction
    (must sum to 1.0 within 1e-9); each row gets a `split` column from
    its key's hash bucket against the cumulative boundaries, in the
    dict's insertion order.

    Same contract as hash_sample: a narrow projection (no shuffle, no
    RNG), the same row lands in the same split at any parallelism or on
    any rerun, and because assignment is by CONTENT KEY, a re-crawled
    duplicate of a training page can never drift into the test split
    (the leakage failure mode of random splits). The salt decorrelates
    the split from any hash_sample already applied to the same key."""
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1.0, got {total}")
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    if salt:
        key = F.concat(F.lit(salt + "\x1f"), key)
    bucket = sample_bucket(key)
    bound = 0
    expr = None
    names = list(fractions)
    for name in names[:-1]:
        bound += int(fractions[name] * BUCKETS)
        cond = bucket < bound
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(names[-1])
    expr = last if expr is None else expr.otherwise(last)
    return df.withColumn("split", expr)


def shuffle_corpus(
    df: DataFrame,
    key_col: Column | str = "url",
    seed: str = "0",
    rank_col: str = "shuffle_rank",
) -> DataFrame:
    """Deterministic global corpus shuffle for training order: every row
    gets a dense 0-based `rank_col` giving its position in the
    md5(seed ⊕ key) permutation — reproducible across runs, retries,
    partitionings, and cluster sizes (no RNG state), and different seeds
    give independent permutations (epoch reshuffles).

    Scale shape: the rank is the assign_ids two-phase global rank over
    the hash order (range partitions + broadcast offsets), so no single
    partition ever sorts the corpus; one shuffle of the hash-key
    projection. Writers consume it as `orderBy(rank_col)` / range
    partitioning — the training loader's shard n then reads one
    contiguous rank range."""
    from eventanalysis_spark.operators.enrich import assign_ids

    key = F.col(key_col) if isinstance(key_col, str) else key_col
    keyed = df.withColumn("__sk", F.md5(F.concat(F.lit(seed + "\x1f"), key)))
    # rank over (hash, key): the key tie-break pins colliding hashes
    out = assign_ids(
        keyed, rank_col,
        ["__sk"] + ([key_col] if isinstance(key_col, str) else []),
        start_after=-1,
    )
    return out.drop("__sk").withColumn(rank_col, F.col(rank_col).cast("long"))


def mixture_resample(
    df: DataFrame,
    weights: dict[str, float],
    source_col: str = "source",
    key_col: Column | str = "url",
    salt: str = "mix",
    default_weight: float = 1.0,
) -> DataFrame:
    """Data mixing by per-source multiplicity (the Dolma/DoReMi 'sample
    source s at weight w' step, up- AND down-sampling in one operator):
    each row is emitted floor(w) + [u < frac(w)] times, where u is the
    row's deterministic hash uniform — so a weight of 2.5 repeats every
    doc twice and a hash-chosen half of them a third time, and a weight
    of 0.3 keeps a 30% subset. Expected multiplicity is exactly w per
    source; the decision is per-row reproducible (same rows, same
    copies, any partitioning).

    Output adds `copy_idx` (0-based) so downstream shuffles can separate
    the copies. Scale shape: one broadcast-joinable weight literal (a
    CASE over sources), one narrow explode(sequence) projection — no
    shuffle; the blow-up factor is exactly the mixture's design total."""
    for s, w in weights.items():
        if w < 0:
            raise ValueError(f"negative weight for {s!r}: {w}")
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    u_bucket = sample_bucket(F.concat(F.lit(salt + "\x1f"), key))

    def _parts(w: float) -> tuple[int, int]:
        base = int(w)  # w >= 0, so int() == floor()
        return base, int(round((w - base) * BUCKETS))

    base_expr = thr_expr = None
    for s, w in sorted(weights.items()):
        cond = F.col(source_col) == s
        base, thr = _parts(float(w))
        base_expr = (
            F.when(cond, base) if base_expr is None else base_expr.when(cond, base)
        )
        thr_expr = (
            F.when(cond, thr) if thr_expr is None else thr_expr.when(cond, thr)
        )
    dbase, dthr = _parts(float(default_weight))
    base_expr = F.lit(dbase) if base_expr is None else base_expr.otherwise(dbase)
    thr_expr = F.lit(dthr) if thr_expr is None else thr_expr.otherwise(dthr)
    n_copies = base_expr.cast("long") + (u_bucket < thr_expr).cast("long")
    return (
        df.withColumn("__n", n_copies)
        .where(F.col("__n") > 0)
        .withColumn(
            "copy_idx",
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("__n") - 1)),
        )
        .drop("__n")
    )


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    keys: tuple[str, ...] = (),
    salt: str = "es",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis & Spirakis
    2006): exactly k rows (per `keys` group if given), where a row's
    inclusion probability is proportional to its weight — the exact-k
    complement to `mixture_resample`'s with-replacement multiplicities
    (quality-weighted corpus subsetting, importance-weighted eval
    picks). Rows with weight <= 0 or null never qualify.

    Deterministic: the E-S rank key is ln(u)/w with u the row's
    md5-uniform in (0,1] — same rows selected on any partitioning or
    engine. The key is ROUNDed to 6dp and ties broken by id, so
    float-noise at the selection boundary TIES (then the id decides)
    instead of rank-flipping across engines — the tfidf_topk trick.

    Scale shape: global form is orderBy().limit(k) =
    TakeOrderedAndProject (k rows per partition move, no global sort);
    grouped form is one keyed window. No Python anywhere."""
    u = (hash60_md5(F.concat(F.lit(salt + "\x1f"), F.col(id_col).cast("string")))
         + F.lit(1)).cast("double") / F.lit(float(1 << 60))
    rkey = F.round(F.log(u) / F.col(weight_col), 6)
    ranked = df.where(
        F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
    ).withColumn("__rkey", rkey)
    if not keys:
        return (
            ranked.orderBy(F.col("__rkey").desc(), F.col(id_col))
            .limit(k)
            .drop("__rkey")
        )
    w = Window.partitionBy(*keys).orderBy(F.col("__rkey").desc(), F.col(id_col))
    return (
        ranked.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rkey", "__rn")
    )
