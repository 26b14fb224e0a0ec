"""End-to-end web-corpus curation: the full crawl-to-training-data
pipeline as ONE composition of the datapipe kernels, in the published
stage order (FineWeb / CCNet / Gopher lineage):

  1. language ID gate                     (textstats.lang_id_col)
  2. Gopher quality gate                  (webquality.gopher_metrics_*/gate)
  3. Gopher full repetition gate          (webquality.gopher_repetition_*)
  4. C4 line clean + page gate            (webquality.c4_clean_col)
  4b. (optional) model-based quality gate (qualityclf.score_quality)
  5. exact document dedup, first-wins     (textstats.fingerprint_col)
  6. MinHash near-dup pruning             (dedup.minhash_dedup_pairs)
  7. (optional) SemDeDup-style embedding
     near-dup over caller embeddings      (similarity.embedding_dedup_pairs)
  8. CCNet corpus line dedup              (linededup.dedup_lines_corpus)
  9. span-duplication screen              (spandedup.duplicate_span_stats)
 10. PII redaction                        (pii.redact_pii_col)
 11. (optional) benchmark decontamination (decontam.decontaminate)

Every kernel keeps its own contract-gated semantics — this module adds
no new math, only the composition, the survivor routing, and the
attrition accounting. Output is ONE ROW PER INPUT DOCUMENT with
``kept``, ``drop_stage`` (the FIRST stage that rejected it, for
attrition reports), the curated ``text_out`` (line-deduped + PII-redacted)
for kept docs, and the per-stage signal columns.

Why BOTH document-level dedups run BEFORE line dedup (an ordering
theorem, not taste): corpus line dedup guarantees no two surviving
documents share a normalized line afterwards. Run it first and (a) any
two byte-identical documents reduce to (copy 1: unchanged, copy 2:
empty) — exact dedup placed after it can provably never fire — and
(b) a near-clone loses every line it shares with its original, so what
reaches MinHash is only the clone's *diff*, whose Jaccard against the
original is near zero: line dedup placed first HIDES near-dups from
the detector that exists to catch them. Placed after the doc-level
passes, the line tier still removes cross-site boilerplate (its job),
the exact pass stays the cheap narrow-groupBy fast path that spares
the per-line explosion from paying for verbatim clones, and MinHash
sees whole documents. The residual trade — shared boilerplate slightly
inflating Jaccard between unrelated pages at stage 6 — is bounded by
the C4 line filter at stage 4, which drops short/unpunctuated nav junk
before any dedup runs. This is also the published order (RefinedWeb
§3.3, FineWeb: document dedup on filtered text, line-level ops after).

Scale shape: stages 1–4 and 10 are shuffle-free per-row Catalyst; each
corpus-wide stage (5–9, 11) runs ONLY over the survivors of the stages
before it — at realistic web attrition (Gopher+C4 drop ~50 %, dedup
shrinks survivors further) the expensive tiers see a fraction of
the scan, exactly how production pipelines sequence it. All dedup keep
rules are min-id/first-occurrence and layout-independent, so the whole
pipeline is deterministic under any partitioning.

Near-dup pruning semantics: a doc is dropped iff it is the LARGER id of
any >= threshold MinHash pair among exact-dedup survivors (the embedding
tier applies the same rule over cosine pairs). On a dup
chain a~b~c (a<b<c, a!~c) this keeps only ``a`` — the standard
pair-greedy rule (RefinedWeb §3.3 drops all-but-one per match), slightly
more aggressive than connected-component dedup with per-cluster keep;
use datapipe/components.py downstream when cluster-exact grouping
matters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crawl4ai_spark.datapipe.dedup import minhash_dedup_pairs
from crawl4ai_spark.datapipe.linededup import dedup_lines_corpus
from crawl4ai_spark.datapipe.pii import pii_counts_col, redact_pii_col
from crawl4ai_spark.datapipe.spandedup import duplicate_span_stats
from crawl4ai_spark.datapipe.textstats import (
    fingerprint_col,
    lang_id_col,
    portable_hash,
)
from crawl4ai_spark.datapipe.webquality import (
    c4_clean_col,
    c4_page_gate_col,
    gopher_gate_col,
    gopher_metrics_frame,
    gopher_repetition_frame,
    gopher_repetition_gate_col,
)

# ordered stage names; drop_stage reports the FIRST failure in this order
STAGES = (
    "lang",
    "gopher_quality",
    "gopher_repetition",
    "c4",
    "quality_clf",
    "exact_dedup",
    "near_dedup",
    "embed_dedup",
    "line_dedup",
    "span_screen",
    "decontam",
)

_REP_GATE_FIELDS = (
    "dup_line_frac", "dup_line_char_frac", "dup_para_frac",
    "dup_para_char_frac", "top_2gram_char_frac", "top_3gram_char_frac",
    "top_4gram_char_frac", "dup_5gram_char_frac", "dup_6gram_char_frac",
    "dup_7gram_char_frac", "dup_8gram_char_frac", "dup_9gram_char_frac",
    "dup_10gram_char_frac",
)


def curate_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    languages: tuple[str, ...] = ("en",),
    min_line_frac_kept: float = 0.0,
    span_window: int = 50,
    span_stride: int = 25,
    max_dup_span_frac: float = 0.7,
    minhash_threshold: float = 0.8,
    minhash_hash_fn=portable_hash,
    embeddings: DataFrame | None = None,
    embed_vec_col: str = "embedding",
    embed_threshold: float = 0.95,
    embed_planes: list | None = None,
    decontam_benchmark: DataFrame | None = None,
    decontam_text_col: str = "text",
    decontam_ngram: int = 13,
    gopher_kwargs: dict | None = None,
    c4_min_words_per_line: int = 5,
    c4_min_lines_kept: int = 3,
    quality_model: tuple | None = None,
    quality_threshold: float = 0.5,
) -> DataFrame:
    """Run the whole curation pipeline; returns one row per input doc:

    (id, kept, drop_stage, lang, gopher_keep, rep_keep, c4_keep,
    quality_prob, n_lines, n_lines_kept, dup_span_frac, is_exact_dup,
    is_near_dup, is_embed_dup, contaminated, pii, text_out)

    ``drop_stage`` is NULL for kept docs; ``text_out`` is the curated
    text (C4-cleaned, corpus-line-deduped, PII-redacted) for kept docs
    and NULL otherwise. ``pii`` is the counts struct over the curated
    text. ``min_line_frac_kept`` optionally rejects docs whose line
    dedup removed too much (0.0 keeps CCNet's default behavior: only
    fully-boilerplate docs — zero surviving lines — are dropped).

    ``quality_model``: an optional ``(idf_model, lr_model)`` pair from
    ``qualityclf.train_quality_classifier`` — adds the FineWeb-Edu/DCLM
    model-based quality gate right after the rule gates. It is placed
    BEFORE the dedup tiers deliberately: scoring is a shuffle-free
    broadcast-model projection (the cheapest tier in the pipeline), so
    letting it shrink the input to the expensive corpus-wide tiers is
    the scale-optimal order; quality_prob is reported for every doc
    that passes the rule gates, not just survivors."""
    base = df.select(F.col(id_col), F.col(text_col).alias("_text"))

    # stages 1-4: shuffle-free per-row gates over the raw text
    g = gopher_metrics_frame(base, "_text", struct_col="_m")
    g = gopher_repetition_frame(g, "_text", out_prefix="_r_")
    rep = F.struct(
        *[F.col(f"_r_{f}").alias(f) for f in _REP_GATE_FIELDS]
    )
    flagged = g.select(
        id_col,
        "_text",
        lang_id_col("_text").alias("lang"),
        gopher_gate_col(F.col("_m"), **(gopher_kwargs or {})).alias(
            "gopher_keep"
        ),
        gopher_repetition_gate_col(rep).alias("rep_keep"),
        c4_clean_col(
            "_text", min_words_per_line=c4_min_words_per_line
        ).alias("_c4"),
    ).withColumn(
        "lang_keep", F.col("lang").isin(*languages)
    ).withColumn(
        "c4_keep",
        c4_page_gate_col(F.col("_c4"), min_lines_kept=c4_min_lines_kept),
    )
    pre_keep = (
        F.col("lang_keep") & F.col("gopher_keep") & F.col("rep_keep")
        & F.col("c4_keep")
    )
    flagged = flagged.withColumn("_pre_keep", pre_keep)
    # TIER BOUNDARY — truncate the lineage. The repetition screen alone is
    # a ~13-metric staged expression forest; every downstream corpus stage
    # re-references this frame (survivor routing + the final LEFT joins),
    # and each reference re-inlines the whole tree — Catalyst analysis of
    # the composed plan OOMs the driver before a single task runs. A lazy
    # localCheckpoint caps the plan at this boundary (computed once, read
    # by every consumer). This is also the production shape: at 100 TB
    # each tier lands in a table between stages, restartable per tier.
    flagged = flagged.localCheckpoint(eager=False)

    # stage 4b (optional): model-based quality gate — a shuffle-free
    # broadcast-model projection over the rule-gate survivors; placed
    # before the dedup tiers so the cheapest tier shrinks the input to
    # the expensive ones (docstring)
    if quality_model is not None:
        from crawl4ai_spark.datapipe.qualityclf import score_quality

        idf_m, lr_m = quality_model
        q = score_quality(
            flagged.filter("_pre_keep").select(id_col, "_text"),
            idf_m, lr_m, id_col=id_col, text_col="_text",
        ).withColumn(
            "quality_keep", F.col("quality_prob") >= quality_threshold
        )
        rule_surv = flagged.filter("_pre_keep").join(
            q.filter("quality_keep").select(id_col), id_col
        )
    else:
        q = None
        rule_surv = flagged.filter("_pre_keep")

    # stage 5: exact dedup (first-wins on the canonical fingerprint of the
    # C4-cleaned text) — one narrow (id, fingerprint) groupBy that
    # collapses verbatim clones BEFORE the per-line explosion pays for
    # them (see the ordering theorem in the module docstring)
    survivors = rule_surv.select(
        id_col, F.col("_c4")["text_clean"].alias("_t4")
    )
    fp = survivors.select(id_col, fingerprint_col("_t4").alias("_fp"))
    reps = fp.groupBy("_fp").agg(F.min(id_col).alias("_rep_id"))
    ex = fp.join(reps, "_fp").select(
        id_col, (F.col(id_col) != F.col("_rep_id")).alias("is_exact_dup")
    )

    # stage 6: MinHash near-dup over whole exact-dedup survivors — BEFORE
    # the line tier can hollow clones out (module docstring); drop the
    # larger id of every pair (chain semantics also in the docstring)
    nd_in = survivors.join(
        ex.filter(~F.col("is_exact_dup")).select(id_col), id_col
    )
    pairs = minhash_dedup_pairs(
        nd_in, id_col, "_t4",
        hash_fn=minhash_hash_fn, threshold=minhash_threshold,
    )
    near_drops = pairs.select(F.col("id_b").alias(id_col)).distinct()
    nd = nd_in.select(id_col).join(
        near_drops.withColumn("_nd", F.lit(True)), id_col, "left"
    ).select(id_col, F.coalesce("_nd", F.lit(False)).alias("is_near_dup"))

    # stage 7 (optional, SemDeDup-style): embedding-cosine near-dup over
    # the MinHash survivors — catches paraphrase/translation duplicates
    # token shingles cannot. Requires a caller-supplied (id, embedding)
    # frame; same larger-id-drops pair rule as stage 6.
    nd_surv = nd_in.join(
        nd.filter(~F.col("is_near_dup")).select(id_col), id_col
    )
    if embeddings is not None:
        from crawl4ai_spark.datapipe.similarity import (
            embedding_dedup_pairs,
            hyperplanes,
        )

        if embed_planes is not None:
            # caller-supplied planes — no dimension probe needed, the
            # composition stays a pure lazy plan construction. An empty
            # list is rejected here: downstream it would not error, just
            # hash every vector into one bucket (an accidental all-pairs
            # guard diversion), which is never what a caller meant.
            if not embed_planes:
                raise ValueError(
                    "embed_planes is empty — pass None to use the "
                    "default hyperplanes"
                )
            planes = embed_planes
        else:
            # dimension probe for the default planes: one bounded collect
            # at plan-construction time (the only eager job in
            # curate_corpus); null and zero-length vectors are junk rows,
            # not evidence of the corpus dimension (dim 0 would make 8
            # empty planes — the same one-bucket degeneracy the empty
            # embed_planes guard above rejects), so probe past them
            first = (
                embeddings.select(embed_vec_col)
                .filter(
                    F.col(embed_vec_col).isNotNull()
                    & (F.size(embed_vec_col) > 0)
                )
                .limit(1)
                .collect()
            )
            if not first:
                raise ValueError(
                    "embeddings frame has no non-null, non-empty vectors; "
                    "pass embed_planes explicitly or drop the embedding "
                    "tier"
                )
            dim = len(first[0][0])
            planes = hyperplanes(8, dim)
        emb_in = embeddings.join(nd_surv.select(id_col), id_col).select(
            F.col(id_col), F.col(embed_vec_col)
        )
        epairs = embedding_dedup_pairs(
            emb_in, planes, threshold=embed_threshold,
            id_col=id_col, vec_col=embed_vec_col,
        )
        edrops = epairs.select(F.col("id_b").alias(id_col)).distinct()
        ed = nd_surv.select(id_col).join(
            edrops.withColumn("_ed", F.lit(True)), id_col, "left"
        ).select(
            id_col, F.coalesce("_ed", F.lit(False)).alias("is_embed_dup")
        )
        ld_in = nd_surv.join(
            ed.filter(~F.col("is_embed_dup")).select(id_col), id_col
        )
    else:
        ed = None
        ld_in = nd_surv

    # stage 8: corpus line dedup over the doc-dedup survivors
    ld = dedup_lines_corpus(ld_in, id_col, "_t4").select(
        id_col,
        F.col("text_clean").alias("_t5"),
        "n_lines",
        "n_lines_kept",
    )
    ld = ld.withColumn(
        "line_keep",
        (F.col("n_lines_kept") > 0)
        & (
            F.col("n_lines_kept")
            >= F.lit(min_line_frac_kept) * F.col("n_lines")
        ),
    )
    # second tier boundary: _t5 (the line-deduped text) feeds the span
    # screen, the optional decontam leg AND the final output — same
    # plan-size containment as the flagged checkpoint above
    ld = ld.localCheckpoint(eager=False)

    # stage 9: span-duplication screen over the line-deduped text (the
    # self/cross repetition that survives every dedup tier above)
    ld_surv = ld.filter("line_keep").select(id_col, "_t5")
    sp = duplicate_span_stats(
        ld_surv, id_col, "_t5", window=span_window, stride=span_stride
    ).select(id_col, "dup_span_frac")
    sp = sp.withColumn(
        "span_keep", F.col("dup_span_frac") <= max_dup_span_frac
    )

    # stage 11 (optional): decontamination over span survivors' final text
    if decontam_benchmark is not None:
        from crawl4ai_spark.datapipe.decontam import decontaminate

        dc_in = ld_surv.join(
            sp.filter("span_keep").select(id_col), id_col
        )
        dc = decontaminate(
            dc_in, decontam_benchmark, id_col, "_t5",
            bench_text_col=decontam_text_col, n=decontam_ngram,
        ).select(id_col, "contaminated")
    else:
        dc = None

    # reassemble: LEFT joins anchor every input doc; stage columns are
    # NULL for docs that never reached that stage
    out = (
        flagged.select(
            id_col, "lang", "lang_keep", "gopher_keep", "rep_keep",
            "c4_keep", "_pre_keep",
        )
        .join(ld.select(id_col, "_t5", "n_lines", "n_lines_kept",
                        "line_keep"), id_col, "left")
        .join(sp, id_col, "left")
        .join(ex, id_col, "left")
        .join(nd, id_col, "left")
    )
    if q is not None:
        out = out.join(q, id_col, "left")
    else:
        out = out.withColumn(
            "quality_prob", F.lit(None).cast("double")
        ).withColumn("quality_keep", F.lit(None).cast("boolean"))
    if ed is not None:
        out = out.join(ed, id_col, "left")
    else:
        out = out.withColumn("is_embed_dup", F.lit(None).cast("boolean"))
    if dc is not None:
        out = out.join(dc, id_col, "left")
    else:
        out = out.withColumn("contaminated", F.lit(None).cast("boolean"))

    kept = (
        F.col("_pre_keep")
        & F.coalesce("quality_keep", F.lit(quality_model is None))
        & ~F.coalesce("is_exact_dup", F.lit(True))
        & ~F.coalesce("is_near_dup", F.lit(True))
        & ~F.coalesce("is_embed_dup", F.lit(False))
        & F.coalesce("line_keep", F.lit(False))
        & F.coalesce("span_keep", F.lit(False))
        & ~F.coalesce("contaminated", F.lit(False))
    )
    drop_stage = (
        F.when(~F.col("lang_keep"), F.lit("lang"))
        .when(~F.col("gopher_keep"), F.lit("gopher_quality"))
        .when(~F.col("rep_keep"), F.lit("gopher_repetition"))
        .when(~F.col("c4_keep"), F.lit("c4"))
        .when(
            ~F.coalesce("quality_keep", F.lit(quality_model is None)),
            F.lit("quality_clf"),
        )
        .when(F.coalesce("is_exact_dup", F.lit(True)), F.lit("exact_dedup"))
        .when(F.coalesce("is_near_dup", F.lit(True)), F.lit("near_dedup"))
        .when(F.coalesce("is_embed_dup", F.lit(False)), F.lit("embed_dedup"))
        .when(~F.coalesce("line_keep", F.lit(False)), F.lit("line_dedup"))
        .when(~F.coalesce("span_keep", F.lit(False)), F.lit("span_screen"))
        .when(F.coalesce("contaminated", F.lit(False)), F.lit("decontam"))
    )
    # stage 10: PII-redact only the text that ships
    text_out = F.when(kept, redact_pii_col(F.col("_t5")))
    return out.select(
        F.col(id_col),
        kept.alias("kept"),
        F.when(~kept, drop_stage).alias("drop_stage"),
        "lang",
        "gopher_keep",
        "rep_keep",
        "c4_keep",
        "quality_prob",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("n_lines_kept").cast("long").alias("n_lines_kept"),
        "dup_span_frac",
        "is_exact_dup",
        "is_near_dup",
        "is_embed_dup",
        "contaminated",
        F.when(kept, pii_counts_col(F.col("_t5"))).alias("pii"),
        text_out.alias("text_out"),
    )


def curation_report(curated: DataFrame) -> DataFrame:
    """Attrition table over a ``curate_corpus`` result: one row per
    drop_stage (NULL = kept) with doc counts and the share of the input,
    ordered by the pipeline's stage order. One narrow aggregate job."""
    from pyspark.sql import Window

    counts = curated.groupBy("drop_stage").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    order = F.when(F.col("drop_stage").isNull(), F.lit(len(STAGES)))
    for i, s in enumerate(STAGES):
        order = order.when(F.col("drop_stage") == s, F.lit(i))
    # the grand total via a window over the ALREADY-AGGREGATED frame —
    # at most len(STAGES)+1 rows, so the single-partition window is free
    # and costs no second pass over the corpus
    total = F.sum("n_docs").over(Window.partitionBy())
    return (
        counts.withColumn("frac", F.round(F.col("n_docs") / total, 6))
        .withColumn("_ord", order)
        .orderBy("_ord")
        .drop("_ord")
    )
