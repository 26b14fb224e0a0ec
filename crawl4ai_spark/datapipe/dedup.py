"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

All Catalyst-native (higher-order array functions + hash joins). The scale
path is the standard shingle→minhash→band→bucket-join pipeline, and every
LSH dedup — in-session, from the bucketed tables, incremental, and the
embedding twins in ``similarity`` — runs it through the same steps:

- ``_minhash_frames`` builds the shingle and band frames (the only check
  of num_hashes against bands); signatures are computed per row with no
  shuffle;
- ``_guarded_band_candidates`` is the ONLY shuffle, the band-bucket
  self-join on the band key. Hash-DISTINCT band keys are uniform, but
  the band key VALUES are not: real web corpora carry huge sets of
  byte-identical pages (empty, boilerplate) that all land in one bucket,
  where the self-join would go quadratic — so buckets above
  HOT_BUCKET_CAP are diverted to a linear star expansion (see the
  constant below);
- ``_scored_pairs`` verifies the candidates with the exact score
  (Jaccard here, cosine for embeddings), so LSH false positives never
  survive (false negatives are the usual LSH trade-off, tunable via
  bands×rows).

At 10^10 docs the band explode is num_bands× the corpus, so
``write_minhash_tables`` writes the shingle and band tables once, bucketed
on their join keys (``_save_bucketed``), amortized across dedup runs;
``append_minhash_tables`` adds one write generation and
``compact_minhash_tables`` folds the generations back into one.

Hashing: the default ``hash_fn`` is ``portable_hash`` (md5-based) so every
operator here has an exact DuckDB oracle. At production scale pass
``hash_fn=F.xxhash64`` (JVM-native, no md5 digest + hex-conv per shingle ×
num_hashes) — same pipeline, same guarantees, different fingerprints; the
bench reports both paths.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from crawl4ai_spark.datapipe.textstats import fingerprint_col, portable_hash, tokens_col
from crawl4ai_spark.storage import (
    discard_rewrite_debris,
    read_sidecar,
    recover_rewrite,
    rewrite_table,
    write_sidecar,
)

# LSH band buckets larger than this are DIVERTED from the quadratic
# self-join to a linear two-layer star expansion (see
# _guarded_band_candidates). A degenerate corpus — thousands of empty or
# boilerplate-identical pages, which a 100 TB web crawl always contains —
# otherwise lands them all in one band_key and the a.doc_id < b.doc_id
# self-join goes O(B²) in one AQE-unsplittable bucket. Byte-identical
# docs — the case that creates hot buckets — always share a full minhash
# signature, so their within-group star pairs verify at jaccard 1.0 and
# stay connected. (Two DISTINCT docs can collide on the full signature
# with probability j^num_hashes and then fail the verify — that residual
# false-negative rate is part of the standard LSH recall trade, not a new
# failure mode.) What the diversion trades away is cross-group clique
# edges among non-identical members of the same oversized bucket, and
# only above the cap (hot_bucket_stats reports the diverted buckets).
HOT_BUCKET_CAP = 1024


# -- exact dedup --------------------------------------------------------------


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct canonical text with
    the representative (min id) and the duplicate count. Map-side partial
    aggregation applies; the shuffle key is the fingerprint (uniform)."""
    return (
        df.select(F.col(id_col).cast("long").alias(id_col), fingerprint_col(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("representative_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


# -- shingling + MinHash ------------------------------------------------------


def shingles_col(text: Column | str, k: int = 3) -> Column:
    """Distinct k-word shingles of the lower-cased text; documents shorter
    than k tokens contribute their whole token string as one shingle."""
    toks = tokens_col(text)
    n = F.size(toks)
    windows = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
    )
    whole = F.array(F.concat_ws(" ", toks))
    return F.array_distinct(F.when(n >= k, windows).otherwise(whole))


def _prefixed_hash(prefix: str, hash_fn: Callable[[Column], Column]):
    """One-arg lambda factory (two-param lambdas receive the array index)."""
    return lambda s: hash_fn(F.concat(F.lit(prefix), s))


def minhash_signature_col(
    shingles: Column,
    num_hashes: int = 16,
    hash_fn: Callable[[Column], Column] = portable_hash,
) -> Column:
    """Array of ``num_hashes`` min-hash values: sig[i] = min over shingles
    of hash_fn(i ‖ ':' ‖ shingle). Empty shingle set → nulls."""
    return F.array(
        *[
            F.array_min(F.transform(shingles, _prefixed_hash(f"{i}:", hash_fn)))
            for i in range(num_hashes)
        ]
    )


def band_keys_col(
    sig: Column,
    bands: int,
    rows: int,
    hash_fn: Callable[[Column], Column] | None = None,
) -> Column:
    """Array of ``bands`` LSH band keys over the comma-joined row slices —
    md5 strings on the oracle path, ``hash_fn`` longs on the fast path
    (narrower join key, no digest-to-hex).

    ``rows`` must be ≥ 1 and the caller's num_hashes must be bands·rows:
    rows=0 would slice empty and put EVERY document in one hash('')
    bucket per band (a silent recall collapse or an O(n²) bucket), and a
    non-divisible num_hashes would silently ignore trailing signature
    values."""
    if rows < 1:
        raise ValueError(
            f"rows per band must be >= 1, got {rows} (bands > num_hashes?)"
        )

    def _key(b: int) -> Column:
        joined = F.concat_ws(
            ",",
            F.transform(F.slice(sig, b * rows + 1, rows), lambda x: x.cast("string")),
        )
        return F.md5(joined) if hash_fn is None else hash_fn(joined)

    return F.array(*[_key(b) for b in range(bands)])


def jaccard_col(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays, rounded to 6 dp."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.round(F.when(union > 0, inter / union).otherwise(F.lit(0.0)), 6)


def _guarded_band_candidates(
    banded: DataFrame, join_keys: list[str], cap: int | None, cache: bool = True
) -> DataFrame:
    """Candidate pairs (id_a < id_b) from a (doc_id, sig_fp, *join_keys)
    band table with the hot-bucket guard (see HOT_BUCKET_CAP). One window
    pass over the join keys tags every row with its bucket size, the
    bucket's min doc_id, and the min doc_id of its exact-SIGNATURE group
    (sig_fp); the windows' required distribution is satisfied by the
    self-join's hash partitioning (and by the bucketed table layout), so
    the guard adds no exchange beyond what the join needed anyway.

    Buckets at or under ``cap`` self-join as a clique. Bigger ones emit
    two linear star layers instead:
    - (group_rep, member) within each identical-signature group — the
      byte-identical/boilerplate docs that CREATE hot buckets share a
      full signature and verify at jaccard 1.0, so the downstream filter
      keeps them connected (distinct docs colliding on the whole
      signature — probability j^num_hashes — can still fail the verify;
      that's the ordinary LSH recall trade);
    - (bucket_rep, group_rep) across the distinct signature groups —
      these may fail the Jaccard verify (a band-collision outlier rep no
      longer poisons the whole bucket), trading away only cross-group
      clique edges among non-identical members of a diverted bucket (the
      documented recall bound; ``hot_bucket_stats`` reports the buckets).

    ``cap=None`` turns the guard off: every row is a normal row, so there
    is no window pass and no star layer — the plain quadratic self-join,
    for corpora the CALLER can bound well under any degenerate-bucket
    size (the two window sorts cost ~1 s on a 1k-doc corpus, which is
    pure overhead there).

    The (tagged) band table feeds both self-join sides and the star
    layers; ``cache=True`` (default) materializes it once — measured 2.4×
    faster on the 100k bucketed-pairs bench than recomputing per branch,
    at the cost of a MEMORY_AND_DISK entry the size of the narrow band
    table (spills, never OOMs; pass ``cache=False`` to trade time for
    zero block-manager footprint). The entry lives until the caller is
    done with the RETURNED (lazy) DataFrame — there is no safe point
    inside this function to unpersist it; long-lived sessions looping
    over many corpora should run ``spark.catalog.clearCache()`` between
    corpora or pass ``cache=False``."""
    tagged = banded
    if cap is not None:
        w = Window.partitionBy(*join_keys)
        tagged = (
            banded.withColumn("_n", F.count(F.lit(1)).over(w))
            .withColumn("_rep", F.min("doc_id").over(w))
            .withColumn(
                "_grp_rep",
                F.min("doc_id").over(Window.partitionBy(*join_keys, "sig_fp")),
            )
        )
    if cache:
        tagged = tagged.cache()
    normal = tagged if cap is None else tagged.filter(F.col("_n") <= cap)
    cond = F.col("a.doc_id") < F.col("b.doc_id")
    for kcol in join_keys:
        cond = (F.col(f"a.{kcol}") == F.col(f"b.{kcol}")) & cond
    pairs = (
        normal.alias("a")
        .join(normal.alias("b"), cond)
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    )
    if cap is not None:
        hot = tagged.filter(F.col("_n") > cap)
        star_same_sig = hot.filter(F.col("doc_id") != F.col("_grp_rep")).select(
            F.col("_grp_rep").alias("id_a"), F.col("doc_id").alias("id_b")
        )
        star_reps = hot.filter(
            (F.col("doc_id") == F.col("_grp_rep"))
            & (F.col("_grp_rep") != F.col("_rep"))
        ).select(F.col("_rep").alias("id_a"), F.col("_grp_rep").alias("id_b"))
        pairs = pairs.unionByName(star_same_sig).unionByName(star_reps)
    return pairs.dropDuplicates(["id_a", "id_b"])


def _scored_pairs(
    cand: DataFrame,
    values: DataFrame,
    value_col: str,
    score: Callable[[Column, Column], Column],
    name: str,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """The verify step of every LSH dedup: join each side of the (id_a,
    id_b) candidates to its ``value_col`` in ``values`` (keyed by doc_id)
    and score the pair into column ``name``; the ``carry`` columns ride
    along from the id_a side. The caller applies its own keep-predicate,
    so each keeps the exact boundary rows of its oracle."""
    out = cand
    for side, extra in (("id_a", carry), ("id_b", ())):
        out = out.join(
            values.select(
                F.col("doc_id").alias(side),
                F.col(value_col).alias(f"_v_{side}"),
                *extra,
            ),
            side,
        )
    return out.withColumn(name, score(F.col("_v_id_a"), F.col("_v_id_b")))


def _sig_fp_col(sig: Column) -> Column:
    """Collision-resistant fingerprint of a full minhash signature array —
    equal signatures ⇔ equal fingerprints (xxhash64 of the joined values);
    distinct docs colliding here still pass through the exact-Jaccard
    verify, so a fingerprint collision can never create a false pair."""
    return F.xxhash64(F.concat_ws(",", F.transform(sig, lambda x: x.cast("string"))))


def _minhash_frames(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    num_hashes: int,
    bands: int,
    hash_fn: Callable[[Column], Column] | None,
    folded: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """(shingles, banded) for a doc frame — the ONE construction of the
    MinHash stages, shared by the in-session pairs, the diagnostics, the
    table writer, the appender and the increment, so a diagnostic can
    never describe, and an increment never join against, a band table
    built differently from the dedup's:

    - shingles: (doc_id, shingles);
    - banded: (doc_id, sig_fp, band_id, band_key) — md5 band keys when
      ``hash_fn`` is None (the oracle layout); ``folded=True`` folds
      band_id into the key (xxhash64 of band_id:slice-key) for the
      persisted single-column bucketed layout, (doc_id, sig_fp,
      band_key). Cross-band fold collisions are harmless: every candidate
      pair is verified by exact Jaccard.

    The band frame carries ONLY narrow columns, so the self-join never
    shuffles the shingle arrays. The docs are spread over all cores
    first: the per-row stages are CPU-bound, and a single small parquet
    file is one partition otherwise. Callers with several consumers of
    the shingle frame cache it; the band frame then reads the cache."""
    if bands < 1 or num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be a positive multiple of "
            f"bands ({bands}) — a remainder silently drops signature values"
        )
    sc = df.sparkSession.sparkContext
    nparts = max(df.rdd.getNumPartitions(), sc.defaultParallelism)
    sh = df.repartition(nparts).select(
        F.col(id_col).cast("long").alias("doc_id"),
        shingles_col(text_col, k).alias("shingles"),
    )
    # the signature is its OWN projection step: inlined into the band
    # expressions, the num_hashes-pass minhash would be evaluated once
    # per consumer (CollapseProject declines to merge, keeping it
    # single-evaluation)
    sig = F.col("sig")
    banded = sh.select(
        "doc_id",
        minhash_signature_col(
            F.col("shingles"), num_hashes, hash_fn=hash_fn or portable_hash
        ).alias("sig"),
    ).select(
        "doc_id",
        _sig_fp_col(sig).alias("sig_fp"),
        F.posexplode(
            band_keys_col(sig, bands, num_hashes // bands, hash_fn=hash_fn)
        ).alias("band_id", "band_key"),
    )
    if folded:
        banded = banded.select(
            "doc_id",
            "sig_fp",
            F.xxhash64(F.concat_ws(":", "band_id", "band_key")).alias("band_key"),
        )
    return sh, banded


def hot_bucket_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    hash_fn: Callable[[Column], Column] | None = None,
    cap: int = HOT_BUCKET_CAP,
    banded: DataFrame | None = None,
) -> DataFrame:
    """Diversion visibility: one row per OVER-CAP band bucket
    (band_id, band_key, n_docs). Run this alongside a dedup pass to report
    how much of the corpus took the star path — silent diversion would
    read as full pair coverage when it isn't. Pass ``banded`` (the band
    frame a dedup pass already built, or a ``<prefix>_bands`` table read
    with band_id selected) to skip recomputing the shingle+signature
    stage — the expensive part — and guarantee the diagnostic describes
    the exact band table the dedup ran. A ``write_minhash_tables`` bands
    table folds band_id into band_key and carries no band_id column; it
    is accepted as-is (band_id reported as 0, the same convention as
    ``embedding_hot_bucket_stats``)."""
    if banded is None:
        _, banded = _minhash_frames(
            df, id_col, text_col, k, num_hashes, bands, hash_fn
        )
    if "band_id" not in banded.columns:
        banded = banded.withColumn("band_id", F.lit(0))
    return (
        banded.groupBy("band_id", "band_key")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > cap)
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    hash_fn: Callable[[Column], Column] | None = None,
    hot_bucket_cap: int | None = HOT_BUCKET_CAP,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard ≥ threshold) via
    shingle → minhash → band → bucket self-join → exact-Jaccard verify.

    ``hash_fn=None`` → oracle-exact ``portable_hash`` + md5 band keys;
    pass ``F.xxhash64`` for the production path (same plan, ~order of
    magnitude cheaper signatures, long band keys). Band buckets larger
    than ``hot_bucket_cap`` take the linear star path instead of the
    quadratic self-join (see HOT_BUCKET_CAP; ``hot_bucket_stats`` reports
    the diverted buckets; ``hot_bucket_cap=None`` skips the guard for
    corpora the caller can bound)."""
    sh, banded = _minhash_frames(
        df, id_col, text_col, k, num_hashes, bands, hash_fn
    )
    # shingle frame computed ONCE and cached: it feeds both the signature
    # build and (twice) the verification join — without the cache, Spark
    # re-derives the full shingle+hash plan on every self-join branch.
    # (The guard caches the band table, so the signature build — the
    # expensive stage — also runs once, not once per self-join side.)
    sh = sh.cache()
    cand = _guarded_band_candidates(banded, ["band_id", "band_key"], hot_bucket_cap)
    return (
        _scored_pairs(cand, sh, "shingles", jaccard_col, "jaccard")
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _table_location(spark, name: str) -> str:
    """Local filesystem path of a warehouse table (this sandbox runs a
    local warehouse; on a cluster the catalog/Iceberg owns locations and
    the callers below use its primitives instead)."""
    import os

    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    for prefix in ("file://", "file:"):
        if wh.startswith(prefix):
            wh = wh[len(prefix):]
            break
    return os.path.join(wh, name.lower())


def _drop_table(spark, name: str) -> None:
    """DROP IF EXISTS plus location cleanup: the warehouse directory
    outlives the in-memory catalog, so a fresh session's overwrite would
    otherwise fail with LOCATION_ALREADY_EXISTS on the orphaned dir. A
    crashed compaction's marker and copies beside the dir go with it."""
    import os
    import shutil

    spark.sql(f"DROP TABLE IF EXISTS {name}")
    loc = _table_location(spark, name)
    if os.path.dirname(loc):
        if os.path.exists(loc):
            shutil.rmtree(loc, ignore_errors=True)
        discard_rewrite_debris(loc)


def _hash_fn_name(hash_fn) -> str:
    return getattr(hash_fn, "__name__", None) or repr(hash_fn)


def _hash_fn_expr(hash_fn) -> str:
    """Behavioural fingerprint of ``hash_fn``: the expression it builds
    over a fixed probe column. Two callables that share a ``__name__``
    (every lambda is ``<lambda>``) but hash differently get different
    fingerprints. Spark names higher-order-function variables from a
    global counter (``x_1``, then ``x_3`` on the next call), so they are
    renumbered in order of appearance. Builds a Column only; it starts no
    Spark job."""
    import re

    expr = str(hash_fn(F.col("_minhash_probe")))
    names: dict[str, str] = {}
    return re.sub(
        r"\b[a-z]+_\d+\b",
        lambda m: names.setdefault(m.group(), f"v{len(names)}"),
        expr,
    )


def _minhash_params_path(spark, name_prefix: str) -> str:
    """The file of the ``minhash_params`` sidecar (``storage`` format)."""
    import os

    return os.path.join(
        _table_location(spark, f"{name_prefix}_shingles"), "_minhash_params.json"
    )


def read_minhash_params(spark, name_prefix: str) -> dict | None:
    """The parameters ``write_minhash_tables`` persisted beside the
    shingle table (None for tables written before the sidecar existed).
    ``hash_fn`` comes back as the function NAME — a daily-increment job
    resolves it against its own registry (the two shipped spellings are
    ``xxhash64`` and ``portable_hash``)."""
    try:
        stored = read_sidecar(
            _table_location(spark, f"{name_prefix}_shingles"), "minhash_params"
        )
    except FileNotFoundError:
        return None
    stored.pop("hash_fn_expr", None)
    return stored


def _write_minhash_params(
    spark, name_prefix: str, k, num_hashes, bands, buckets, hash_fn
) -> None:
    write_sidecar(
        _table_location(spark, f"{name_prefix}_shingles"),
        "minhash_params",
        {
            "k": k,
            "num_hashes": num_hashes,
            "bands": bands,
            "buckets": buckets,
            "hash_fn": _hash_fn_name(hash_fn),
            "hash_fn_expr": _hash_fn_expr(hash_fn),
        },
    )


# the bucket (and sort) column of each MinHash table
_MINHASH_KEYS = {"shingles": "doc_id", "bands": "band_key"}


def _minhash_table(spark, name_prefix: str, table: str) -> str:
    """The catalog name of MinHash table ``table`` ("shingles" or
    "bands"), registered in this session's catalog first when only its
    files are there. The session catalog is in-memory while the
    warehouse directory persists, so a process that did not write the
    tables finds their files but no entry. The entry is recreated over
    the files with the bucket spec ``write_minhash_tables`` used (the
    count from the params sidecar): a plain parquet read would lose the
    bucketing, and every bucket-aligned join would shuffle. A compaction
    that crashed between its renames left no directory, so it is
    recovered first."""
    import os

    name = f"{name_prefix}_{table}"
    loc = _table_location(spark, name)
    recover_rewrite(loc)
    if spark.catalog.tableExists(name) or not os.path.isdir(loc):
        return name
    params = read_minhash_params(spark, name_prefix)
    if params is None:
        raise ValueError(
            f"{name}: its files are at {loc} but no catalog entry names "
            "the table, and there is no params sidecar to take its bucket "
            "count from. Rebuild it with write_minhash_tables."
        )
    key = _MINHASH_KEYS[table]
    ddl = spark.read.parquet(loc).schema.toDDL()
    spark.sql(
        f"CREATE TABLE {name} ({ddl}) USING parquet CLUSTERED BY ({key}) "
        f"SORTED BY ({key}) INTO {params['buckets']} BUCKETS "
        f"LOCATION '{loc}'"
    )
    return name


def _check_minhash_params(
    spark,
    name_prefix: str,
    *,
    k: int,
    num_hashes: int,
    bands: int,
    hash_fn,
    buckets: int | None = None,
) -> None:
    """Fail loud when a caller's minhash parameters disagree with the
    sidecar the tables were written under. Both tables are resolved
    (``_minhash_table``) first: a compaction that crashed between its
    renames has taken the shingle directory away, and the sidecar with
    it, so a check that ran before the recovery would read "no sidecar"
    and pass. Without the check, a bands or hash_fn mismatch does not
    error — batch band keys simply never match corpus band keys, so an
    increment silently reports (near) zero pairs and duplicates leak into
    the corpus; an append would bake differently-banded rows into the
    tables. Tables from before the sidecar (no params file) are accepted
    unchecked — rewrite with the current ``write_minhash_tables`` to get
    the protection. ``hash_fn`` is compared by name and, where the
    sidecar records it, by the expression it builds (sidecars written
    before the fingerprint compare by name only)."""
    for table in _MINHASH_KEYS:
        _minhash_table(spark, name_prefix, table)
    try:
        stored = read_sidecar(
            _table_location(spark, f"{name_prefix}_shingles"), "minhash_params"
        )
    except FileNotFoundError:
        return
    claimed = {
        "k": k,
        "num_hashes": num_hashes,
        "bands": bands,
        "hash_fn": _hash_fn_name(hash_fn),
        "hash_fn_expr": _hash_fn_expr(hash_fn),
    }
    if buckets is not None:
        claimed["buckets"] = buckets
    bad = {
        key: (val, stored[key])
        for key, val in claimed.items()
        if key in stored and stored[key] != val
    }
    if bad:
        detail = ", ".join(
            f"{key}: caller={c!r} table={t!r}" for key, (c, t) in sorted(bad.items())
        )
        raise ValueError(
            f"{name_prefix}: minhash parameters disagree with the values "
            f"the tables were written under ({detail}). A mismatch would "
            "not error — band keys would simply never match and the "
            "increment/append would silently miss duplicates. Pass the "
            "stored values (read_minhash_params) or rebuild the tables "
            "with write_minhash_tables."
        )


def write_minhash_tables(
    df: DataFrame,
    id_col: str,
    text_col: str,
    name_prefix: str,
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    hash_fn: Callable[[Column], Column] = F.xxhash64,
    buckets: int = 32,
) -> None:
    """The 10^10-doc materialization step (the plan written down at the top
    of this module): compute shingles + signatures ONCE and persist two
    bucketed tables, amortized across every subsequent dedup run —

    - ``<prefix>_shingles`` bucketed by doc_id (the verify joins read it
      co-located, no exchange on the shingle side);
    - ``<prefix>_bands`` bucketed by band_key, where band_id is FOLDED into
      the key (hash of band_id:slice-key) so the candidate self-join is a
      single-column equi-join on the bucket column — zero exchanges.
      Cross-band key collisions are possible and harmless: every candidate
      pair is verified by exact Jaccard.

    ``buckets`` is the shuffle-free join's parallelism — size it so one
    bucket's band rows fit a task (corpus_rows × bands / buckets). On a
    real cluster this is the same layout as Iceberg's bucket partition
    transform."""
    spark = df.sparkSession
    # build (and so check) the frames before the old tables are dropped:
    # a bad parameter must leave them as they were
    sh, banded = _minhash_frames(
        df, id_col, text_col, k, num_hashes, bands, hash_fn, folded=True
    )
    for table in _MINHASH_KEYS:
        _drop_table(spark, f"{name_prefix}_{table}")
    _write_generation(sh, banded, name_prefix, buckets)
    # persist the construction parameters beside the shingle table: the
    # caller-side copy is losable state (same failure mode the ANN tables
    # guard with _ivf_centroids/_lsh_planes sidecars), and an increment or
    # append run under mismatched bands/hash_fn would silently miss
    # duplicates rather than error — _check_minhash_params turns that
    # into a loud ValueError
    _write_minhash_params(spark, name_prefix, k, num_hashes, bands, buckets, hash_fn)


def _save_bucketed(
    df: DataFrame,
    name: str,
    key: str,
    buckets: int,
    mode: str = "append",
    path: str | None = None,
) -> None:
    """Write ``df`` to catalog table ``name`` bucketed and sorted by
    ``key`` — the ONE bucketed write (table build, append, compaction);
    an append to a missing table creates it. Repartitioning on the bucket
    column first puts each bucket on one task, so the write emits one
    file per bucket instead of (#input-partitions × buckets); the source
    must not carry the same bucket spec, or the optimizer elides that
    repartition as redundant. ``bucketBy`` writes only through the
    catalog; ``path`` makes the table an external one there."""
    writer = (
        df.repartition(buckets, F.col(key))
        .write.mode(mode)
        .format("parquet")
        .bucketBy(buckets, key)
        .sortBy(key)
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(name)


def _write_generation(
    sh: DataFrame, banded: DataFrame, name_prefix: str, buckets: int
) -> None:
    """Append one write generation of a doc batch's ``_minhash_frames``
    (folded) to both MinHash tables, creating missing ones. The band
    frame re-reads the shingle subplan, so the shingle frame is cached
    across the two writes."""
    sh = sh.cache()
    try:
        for table, frame in (("shingles", sh), ("bands", banded)):
            _save_bucketed(
                frame, f"{name_prefix}_{table}", _MINHASH_KEYS[table], buckets
            )
    finally:
        sh.unpersist()


def _corpus_bands(spark, name_prefix: str) -> DataFrame:
    """The corpus band table. Tables written before the hot-bucket guard
    carry no ``sig_fp`` column; they degrade to ``sig_fp = doc_id``, the
    single-layer star (every hot-bucket member links straight to the
    bucket rep), instead of crashing the amortized-table workflow."""
    banded = spark.table(_minhash_table(spark, name_prefix, "bands"))
    if "sig_fp" not in banded.columns:
        banded = banded.withColumn("sig_fp", F.col("doc_id"))
    return banded


def minhash_pairs_increment(
    spark,
    new_docs: DataFrame,
    name_prefix: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    hash_fn: Callable[[Column], Column] = F.xxhash64,
    threshold: float = 0.5,
    hot_bucket_cap: int | None = HOT_BUCKET_CAP,
) -> DataFrame:
    """Near-dup pairs INVOLVING a new doc batch, against the pre-bucketed
    corpus tables written by ``write_minhash_tables`` — the daily-increment
    production pattern at 10^10 docs: the corpus' shingles and signatures
    are NEVER recomputed. The corpus band table is first narrowed to the
    batch-TOUCHED buckets by a broadcast semi-join riding the scan (a
    bucket the batch never lands in cannot produce a batch-touching
    pair), so the only corpus rows that move are the ones a from-scratch
    run would pair against anyway; the shingle-verify joins read the
    doc_id-bucketed shingle table co-located. An increment costs O(batch)
    signature compute + one narrow semi-filtered corpus scan — not the
    O(corpus) signature rebuild a from-scratch run pays.

    Candidates come from the SAME ``_guarded_band_candidates`` pass a
    from-scratch run uses, applied to (touched corpus rows ∪ batch rows)
    per bucket and then restricted to pairs touching the batch — so the
    result EXACTLY equals the from-scratch pairs over (corpus ∪ batch)
    restricted to the batch, under any ``hot_bucket_cap`` setting
    (differential-tested, degenerate hot bucket included): an over-cap
    union bucket emits the identical two-layer star both ways, never a
    B×batch bipartite blowup. Returns (id_a, id_b, jaccard ≥ threshold),
    id_a < id_b. Caller contract: batch doc ids are disjoint from the
    corpus'. Grow the corpus afterwards with ``append_minhash_tables``
    (AFTER consuming these pairs — the plan is lazy and must not see its
    own appends). Long-running daily loops should
    ``spark.catalog.clearCache()`` between increments: this call caches
    the batch's shingle/band frames (and the guard its windowed bucket
    table) for the multi-join plan, and the frames must stay cached while
    the returned DataFrame is consumed.

    Parameters mirror ``write_minhash_tables`` and must match the values
    the tables were written with, ``hash_fn`` included — validated
    against the sidecar the writer persists (mismatch raises instead of
    silently missing duplicates; see ``read_minhash_params``)."""
    _check_minhash_params(
        spark, name_prefix, k=k, num_hashes=num_hashes, bands=bands,
        hash_fn=hash_fn,
    )
    sh_new, banded_new = _minhash_frames(
        new_docs, id_col, text_col, k, num_hashes, bands, hash_fn, folded=True
    )
    # multiple consumers (touched-bucket semi-join, union guard pass,
    # verify joins, batch-side restriction) — cache both batch frames
    sh_new = sh_new.cache()
    banded_new = banded_new.cache()
    touched = (
        _corpus_bands(spark, name_prefix)
        .select("doc_id", "sig_fp", "band_key")
        .join(
            F.broadcast(banded_new.select("band_key").distinct()),
            "band_key",
            "left_semi",
        )
    )
    union_bands = touched.unionByName(
        banded_new.select("doc_id", "sig_fp", "band_key")
    )
    cand_all = _guarded_band_candidates(union_bands, ["band_key"], hot_bucket_cap)
    # restrict to pairs touching the batch in ONE pass (two broadcast
    # left joins + an OR filter) — a semi-join per side would consume
    # cand_all twice and duplicate the whole union+guard subtree in the
    # plan; batch ids are distinct, so the left joins multiply no rows
    cand = cand_all
    for side in ("id_a", "id_b"):
        new_ids = sh_new.select(
            F.col("doc_id").alias(side), F.lit(True).alias(f"_new_{side}")
        )
        cand = cand.join(F.broadcast(new_ids), side, "left")
    cand = cand.filter(
        F.col("_new_id_a").isNotNull() | F.col("_new_id_b").isNotNull()
    ).drop("_new_id_a", "_new_id_b")
    # verify: resolve each side's shingles from EITHER store — the corpus
    # table (bucketed by doc_id, co-located join) or the cached batch
    # frame (small ⇒ broadcast) — without unioning them, which would
    # discard the corpus side's bucket metadata and force an exchange
    corpus_sh = spark.table(_minhash_table(spark, name_prefix, "shingles"))
    verified = cand
    for side in ("id_a", "id_b"):
        verified = (
            verified.join(
                corpus_sh.select(
                    F.col("doc_id").alias(side),
                    F.col("shingles").alias(f"_c_{side}"),
                ),
                side,
                "left",
            )
            .join(
                sh_new.select(
                    F.col("doc_id").alias(side),
                    F.col("shingles").alias(f"_n_{side}"),
                ),
                side,
                "left",
            )
            .withColumn(
                f"_sh_{side}", F.coalesce(F.col(f"_n_{side}"), F.col(f"_c_{side}"))
            )
            .drop(f"_c_{side}", f"_n_{side}")
        )
    return (
        verified.withColumn(
            "jaccard", jaccard_col(F.col("_sh_id_a"), F.col("_sh_id_b"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _refuse_torn_append(spark, name_prefix: str, consequence: str) -> str:
    """Raise if an ``append_minhash_tables`` call left its torn-append
    marker behind; else return the marker's path."""
    import os

    marker = os.path.join(
        _table_location(spark, f"{name_prefix}_shingles"), "_append_pending"
    )
    if os.path.exists(marker):
        raise RuntimeError(
            f"{name_prefix}: a previous append_minhash_tables did not "
            f"complete — {consequence} Rebuild with write_minhash_tables "
            "over the full corpus."
        )
    return marker


def append_minhash_tables(
    spark,
    new_docs: DataFrame,
    name_prefix: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    hash_fn: Callable[[Column], Column] = F.xxhash64,
    buckets: int = 32,
) -> None:
    """Grow the bucketed corpus tables by a doc batch — O(batch) shingle +
    signature work and one narrow batch-side exchange per table, after
    which the next ``minhash_pairs_increment``/``minhash_pairs_from_tables``
    sees the union corpus on the same exchange-free layout. Uses the
    bucket-spec'd append (``_save_bucketed``: bucketBy + saveAsTable) so
    the new files land correctly bucketed — NOT ``insertInto``, which
    silently ignores the bucket spec and would corrupt every later
    bucket-aligned join. Call AFTER consuming the increment's pairs (its
    plan is lazy and must not see these appends). Parameters (including
    ``buckets``) must match the original ``write_minhash_tables`` call.

    TORN-APPEND GUARD: the two table appends are not one transaction —
    a crash between them would leave shingle rows with no band rows
    (those docs silently never candidate again) and a blind retry would
    double-append shingles (duplicate verified pairs). A pending-marker
    beside the shingle table turns both outcomes into a loud error that
    names the remedy (rebuild via ``write_minhash_tables``); on a real
    cluster this guard is replaced by an Iceberg multi-table
    transaction, exactly as the snapshot tables note for their commit
    protocol."""
    import os

    _check_minhash_params(
        spark, name_prefix, k=k, num_hashes=num_hashes, bands=bands,
        hash_fn=hash_fn, buckets=buckets,
    )
    marker = _refuse_torn_append(
        spark,
        name_prefix,
        "the shingle/band tables may be torn (docs with shingles but no "
        "bands never surface as candidates; retrying would double-append).",
    )
    sh, banded = _minhash_frames(
        new_docs, id_col, text_col, k, num_hashes, bands, hash_fn, folded=True
    )
    with open(marker, "w") as f:
        f.write("append in progress")
    _write_generation(sh, banded, name_prefix, buckets)
    os.remove(marker)


def _bucket_count(spark, name: str) -> int:
    """The number of buckets in catalog table ``name``'s bucket spec —
    the layout every bucketed scan of the table assumes."""
    for row in spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect():
        if row.col_name == "Num Buckets":
            return int(row.data_type)
    raise ValueError(f"{name} has no bucket spec")


def _compact_bucketed_table(spark, name: str, key: str, buckets: int) -> dict:
    """Rewrite one bucketed catalog table from its own rows — same bucket
    spec, single write generation — through ``storage.rewrite_table``,
    which swaps the table's directory (row count verified, the
    ``_minhash_params.json`` sidecar carried, crash-recoverable from the
    files alone). ``bucketBy`` writes only through the catalog, so the
    copy is written as an external table at the swap's tmp dir and its
    catalog entry is dropped at once (its files stay): the catalog never
    holds more than the table itself, and the table's own entry is
    refreshed after the swap, also when it fails (a recovery may have
    renamed the files the entry's cached listing names)."""
    loc = _table_location(spark, name)
    staging = f"{name}__compacting"

    def write_copy(tmp: str) -> None:
        # read the files, not the catalog entry: after the swap recovered
        # a crash, the entry's cached file listing names files that the
        # recovery renamed away (and a file read carries no bucket spec
        # that would let the writer's repartition be elided)
        _save_bucketed(
            spark.read.parquet(loc), staging, key, buckets, "overwrite", tmp
        )
        spark.sql(f"DROP TABLE {staging}")

    try:
        return rewrite_table(spark, loc, write_copy)
    finally:
        spark.sql(f"REFRESH TABLE {name}")


def compact_minhash_tables(
    spark, name_prefix: str, buckets: int | None = None
) -> dict:
    """Fold N ``append_minhash_tables`` generations back into one write
    generation per bucket — the minhash twin of
    ``similarity.compact_ivf_table``/``compact_lsh_table``: each append
    adds one file per bucket per table, and when the open cost on the
    amortized pairs/increment reads outweighs a one-off rewrite, compact.
    Pure IO — shingles and signatures are read back as rows and
    re-bucketed under the SAME spec, never recomputed, so this costs one
    scan + one exchange per table instead of the O(corpus) signature
    rebuild that ``write_minhash_tables`` pays. Each table is rewritten
    under the bucket count of its own catalog entry, which the swap keeps
    and every bucketed scan reads the files by; ``buckets`` may be
    omitted, and an explicit value that disagrees with either table's
    spec raises rather than silently re-bucketing the files out from
    under every bucket-aligned join.

    Each table is rewritten by ``storage.rewrite_table``, the protocol
    the ANN compactors use: the compacted copy is verified and complete
    on disk before a marker swaps it in by directory rename, the next
    call recovers any crash inside the swap from the files alone, and
    stale copies of crashed attempts are swept. The two tables compact
    independently and content never changes, so a crash between them is
    harmless (one compacted, one not — every reader sees the same rows).
    Refuses to run over a torn append (its marker means the TABLES may
    disagree — compacting would bake the tear in). Returns
    {"shingles": stats, "bands": stats}, each {rows, files_before,
    files_after}."""
    specs = {
        t: _bucket_count(spark, _minhash_table(spark, name_prefix, t))
        for t in _MINHASH_KEYS
    }
    _refuse_torn_append(
        spark, name_prefix, "compacting now would bake the torn state in."
    )
    if buckets is not None and set(specs.values()) != {buckets}:
        raise ValueError(
            f"{name_prefix}: buckets={buckets} disagrees with the value "
            f"the tables were written under ({specs}); a mismatched "
            "compaction would silently re-bucket the tables out from "
            "under every bucket-aligned join. Omit buckets to use the "
            "tables' own bucket spec."
        )
    return {
        t: _compact_bucketed_table(spark, f"{name_prefix}_{t}", key, specs[t])
        for t, key in _MINHASH_KEYS.items()
    }


def minhash_pairs_from_tables(
    spark,
    name_prefix: str,
    threshold: float = 0.5,
    hot_bucket_cap: int | None = HOT_BUCKET_CAP,
) -> DataFrame:
    """Near-duplicate pairs from the pre-bucketed tables written by
    ``write_minhash_tables``. The candidate self-join and both verify joins
    run exchange-free on the bucket layout (plan-asserted in
    test_plan_quality) — the hot-bucket guard's window partitions by
    band_key, which the bucketing already provides, so the guard stays
    exchange-free too; at 10^10 docs the only shuffle left is the
    candidate-pair dropDuplicates.

    Band tables written before the guard carried no ``sig_fp`` column;
    those degrade to the single-layer star (``_corpus_bands``) — rewrite
    the tables with the current ``write_minhash_tables`` to get the
    identical-signature layer."""
    cand = _guarded_band_candidates(
        _corpus_bands(spark, name_prefix), ["band_key"], hot_bucket_cap
    )
    sh = spark.table(_minhash_table(spark, name_prefix, "shingles"))
    return (
        _scored_pairs(cand, sh, "shingles", jaccard_col, "jaccard")
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df_a: DataFrame,
    df_b: DataFrame,
    join_cond,
    id_a: str = "id_a",
    id_b: str = "id_b",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Exact k-gram Jaccard for an arbitrary candidate-pair join condition
    (the non-LSH building block; callers bound the pair set)."""
    a = df_a.select(
        F.col(id_a), shingles_col(text_col, k).alias("sh_a")
    ).alias("a")
    b = df_b.select(
        F.col(id_b), shingles_col(text_col, k).alias("sh_b")
    ).alias("b")
    return a.join(b, join_cond).select(
        id_a, id_b, jaccard_col(F.col("sh_a"), F.col("sh_b")).alias("jaccard")
    )


# -- SimHash ------------------------------------------------------------------


def simhash_col(
    text: Column | str,
    bits: int = 32,
    hash_fn: Callable[[Column], Column] = portable_hash,
) -> Column:
    """SimHash over whitespace tokens (with multiplicity): bit b of the
    output is set when Σ_tokens (2·bit_b(hash(token)) − 1) > 0.

    Pure Catalyst: one array of token hashes, then ``bits`` fold-sums. At
    scale this is embarrassingly parallel (no shuffle)."""
    th = F.transform(tokens_col(text), lambda t: hash_fn(t))
    acc = F.lit(0).cast("long")
    for b in range(bits):
        vote = F.aggregate(th, F.lit(0).cast("long"), _bit_vote(b))
        acc = acc + F.when(vote > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
    return acc


def _bit_vote(b: int):
    """Two-arg (acc, elem) merge lambda factory for F.aggregate."""
    return lambda s, h: s + (F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1)


def hamming_distance_col(a: Column, b: Column, bits: int = 32) -> Column:
    """Hamming distance between two simhash values: popcount(a XOR b)."""
    x = a.bitwiseXOR(b)
    acc = F.lit(0)
    for i in range(bits):
        acc = acc + F.shiftright(x, i).bitwiseAND(F.lit(1))
    return acc
