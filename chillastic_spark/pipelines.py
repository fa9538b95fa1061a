"""End-to-end training-data curation pipeline.

Composes the operator library into the standard LLM-data flow:

    raw documents
      → scrub (URL/email/phone redaction)
      → text features (tokens / quality / lang-id / fingerprint)
      → quality gate            (drop low-quality docs)
      → repetition gate         (Gopher-style dup-bigram / top-token caps)
      → decontamination         (optional: drop docs sharing an n-gram
                                 with a broadcast benchmark set)
      → exact dedup             (content fingerprint, keep min id)
      → near dedup              (MinHash-LSH pairs → drop the larger id)
      → DSIR selection          (optional: keep the most target-like
                                 fraction by hashed-unigram importance)
      → mixture sampling        (optional: per-source hash-gate rates
                                 solved for a token budget)
      → chunking                (overlapping token windows)
      → assembly (``assemble``) (leakage-safe train/val/test splits
                                 + hash-sharded output manifest)

Everything is DataFrame-native: the whole pipeline is ONE Spark job
graph with three shuffles (fingerprint group, minhash signatures,
pair join) regardless of corpus size. ``curate`` returns the chunk
table plus a per-stage audit report (counts survive/pruned) — the
numbers a data-curation run has to publish.
"""
from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chillastic_spark.operators import dedup as D
from chillastic_spark.operators import text as T
from chillastic_spark.operators.chunking import chunk_documents
from chillastic_spark.persist import (
    batch_scope,
    materialize,
    persist_mode,
    release,
)


@dataclass
class CurationConfig:
    scrub: bool = True  # redact URLs/emails/phones first (operators/scrub.py)
    min_quality: float = 0.3
    min_tokens: int = 8
    # repetition gate (Gopher-style); 1.0 disables
    max_dup_bigram_frac: float = 1.0
    max_top_tok_frac: float = 1.0
    # decontamination n-gram length (used when curate(benchmark=...) given)
    decontaminate_n: int = 5
    near_dup_threshold: float = 0.5
    minhash_perms: int = 16
    minhash_bands: int = 4
    shingle_n: int = 3
    chunk_size: int = 50
    chunk_stride: int = 40
    keep_langs: list[str] = field(default_factory=list)  # empty = all
    # DSIR selection (used when curate(dsir_target=...) given): keep the
    # top fraction of surviving docs by length-normalized importance
    dsir_keep_frac: float = 0.5
    # mixture sampling (used when curate(mixture=...) given): token
    # budget the per-source hash-gate rates are solved for
    mixture_budget: int = 500_000


@dataclass
class CurationReport:
    input_docs: int
    after_quality_gate: int
    after_exact_dedup: int
    after_near_dedup: int
    chunks: int
    after_decontamination: int | None = None  # None = no benchmark given
    after_dsir_selection: int | None = None  # None = no dsir_target given
    after_mixture_sampling: int | None = None  # None = no mixture given
    # sources with live docs whose sampling gate solved to ZERO — a
    # positive weight that quantized away, a source missing from the
    # mixture dict entirely (key mismatch), or NULL-source rows
    # (reported as '<null>'). Every doc of such a source is dropped;
    # surfaced here because the aggregate count alone makes losing a
    # whole source invisible
    mixture_zeroed_sources: "list[str] | None" = None
    # per-source KL vs drift_reference, measured on the RAW input batch
    # (None = no reference given)
    input_drift: "dict[str, float] | None" = None
    # the (pinned) MinHash-LSH candidate pair list the near-dedup stage
    # computed — pass it to assemble(pairs=...) so split assignment uses
    # the SAME candidate set instead of paying a second signature pass
    # (a hand-recomputed set with different knobs lets two surviving
    # near-dups straddle splits — the leakage assemble guards against)
    near_dup_pairs: "DataFrame | None" = None

    def as_dict(self) -> dict:
        # counts only — the pair DataFrame is a handle, not a metric
        return {k: v for k, v in vars(self).items() if k != "near_dup_pairs"}


def curate(
    df: DataFrame,
    config: CurationConfig | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    benchmark: DataFrame | None = None,
    dsir_target: "F.Column | None" = None,
    mixture: "dict[str, int] | None" = None,
    source_col: str = "source",
    drift_reference: DataFrame | None = None,
) -> tuple[DataFrame, CurationReport]:
    """Run the curation flow; returns (chunk_table, report).

    The intermediate doc set is pinned (persist.materialize) once after the
    gates (it feeds minhash, the pair anti-join, and chunking); on a
    cluster this is where you'd persist/checkpoint to cluster storage.
    """
    cfg = config or CurationConfig()
    input_docs = df.count()

    # drift check FIRST, on the raw batch — the monitor a pipeline
    # consults before letting new ingest through the gates (the batch
    # twin of streaming.drift_stream; |sources|-row collect)
    input_drift = None
    if drift_reference is not None:
        from chillastic_spark.operators import importance as IMP

        # both count tables feed multiple consumers inside unigram_kl
        # (totals, novel-bucket anti-join, domain join) — materialize
        # so each explode+md5 token pass runs once
        from chillastic_spark.streaming import _freeze_drift_ref

        # THE one frozen-reference definition (shared with drift_stream
        # and curation_stream — a local restatement would fork batch
        # drift math from the stream's)
        ref = _freeze_drift_ref(
            drift_reference, IMP.DEFAULT_BUCKETS,
            group_col=source_col, text_col=text_col,
        )
        sb = materialize(
            IMP.unigram_counts(df, source_col, text_col=text_col)
        )
        input_drift = {
            r[source_col]: r["kl"]
            for r in IMP.unigram_kl(sb, ref, group_col=source_col).collect()
        }
        # the collect above is the last consumer of both count tables
        if persist_mode() in ("local", "reliable"):
            release(ref)
            release(sb)

    if cfg.scrub:
        from chillastic_spark.operators.scrub import scrub_text

        df = df.withColumn(text_col, scrub_text(text_col))

    feats = T.with_text_features(df, text_col)
    gated = feats.filter(
        (F.col("quality") >= cfg.min_quality) & (F.col("n_tokens") >= cfg.min_tokens)
    )
    if cfg.keep_langs:
        gated = gated.filter(F.col("pred_lang").isin(cfg.keep_langs))
    pre_top = None
    if cfg.max_dup_bigram_frac < 1.0 or cfg.max_top_tok_frac < 1.0:
        # Gopher-style repetition gate, all narrow array math except the
        # top-token pass (one map-side-combining agg)
        from chillastic_spark import functions as CF

        # project the words array FIRST (the functions.gram_hashes
        # codegen caveat)
        gated = (
            gated.withColumn("__w", CF.words(F.col(text_col)))
            .withColumn(
                "__dup_bi",
                F.when(
                    F.size("__w") >= 2,
                    F.lit(1.0)
                    - F.size(F.array_distinct(CF.gram_hashes(F.col("__w"), 2)))
                    / (F.size("__w") - 1).cast("double"),
                ).otherwise(F.lit(0.0)),
            )
            .filter(F.col("__dup_bi") <= cfg.max_dup_bigram_frac)
            .drop("__dup_bi")
        )
        w = F.col("__w")
        if cfg.max_top_tok_frac < 1.0:
            # pin BEFORE the top-token self-join: the aggregate branch
            # and the probe branch otherwise EACH re-run the
            # scrub/tokenize/feature subtree inside one job (the two
            # sides project differently, so no exchange reuse applies)
            pre_top = materialize(gated)
            top = (
                pre_top.select(id_col, F.explode(w).alias("__t"))
                .groupBy(id_col, "__t")
                .agg(F.count(F.lit(1)).alias("__c"))
                .groupBy(id_col)
                .agg(F.max("__c").alias("__max_tok"))
            )
            gated = (
                pre_top.join(top, id_col)
                .filter(
                    F.col("__max_tok") / F.size(w).cast("double")
                    <= cfg.max_top_tok_frac
                )
                .drop("__max_tok")
            )
        gated = gated.drop("__w")
    # pin once: gated feeds the quality count, the decontamination gram
    # build + anti-join + count, the fingerprint groupBy, and the
    # near-dup stage — unpinned, the scrub/tokenize/score subtree
    # recomputes for EVERY consumer (4-5 full corpus passes)
    gated = materialize(gated)
    if pre_top is not None and persist_mode() in ("local", "reliable"):
        release(pre_top)  # superseded by the (eager) main pin above
    after_quality = gated.count()
    after_decon = None
    if benchmark is not None:
        # drop any doc sharing a decontaminate_n-gram with the benchmark
        # (broadcast semi-join; the corpus side never shuffles)
        from chillastic_spark import functions as CF

        # the benchmark side needs only its gram-hash set, no id column
        bench_grams = (
            benchmark.select(CF.words(F.col(text_col)).alias("__w"))
            .select(F.explode(CF.gram_hashes(F.col("__w"), cfg.decontaminate_n)).alias("gh"))
            .distinct()
        )
        tainted = (
            D.shingles(gated, id_col, text_col, cfg.decontaminate_n)
            .join(F.broadcast(bench_grams), "gh")
            .select(F.col("doc_id").alias(id_col))
            .distinct()
        )
        gated = gated.join(tainted, id_col, "left_anti")
        after_decon = gated.count()

    # exact dedup on the full-content fingerprint (already computed) —
    # fp-partitioned row_number, one shuffle, like operators.exact_dedup:
    # the old keeper-id semi-join kept EVERY row bearing the keeper id,
    # so a batch re-emitting byte-identical rows under one id kept both
    from pyspark.sql.window import Window as _Window

    # null-id rows are undeliverable and untrackable (no dedup keeper,
    # no chunk identity): dropped, as the old keeper-id semi-join
    # always did — and they must never WIN the keeper window (NULLs
    # sort FIRST under the ascending orderBy, which would silently
    # drop the real-id duplicate and carry a NULL id into chunking)
    _wfp = _Window.partitionBy("fingerprint").orderBy(id_col)
    exact = materialize(
        gated.filter(F.col(id_col).isNotNull())
        .withColumn("__rn", F.row_number().over(_wfp))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    after_exact = exact.count()

    # near dedup: MinHash-LSH candidate pairs → drop the larger id.
    # Pinned because (a) the band self-join + verify join is the
    # pipeline's most expensive shuffle, (b) the pair list outlives
    # this function (returned on the report for assemble), and (c) it
    # must survive the release of `exact` below.
    # batch_scope around the operator call: minhash_lsh_pairs pins its
    # corpus-wide signature table INTERNALLY (a handle this caller
    # never sees); scoped, that pin releases here instead of leaking
    # for the session lifetime — persist.batch_scope's documented
    # purpose. The `pairs` pin itself is lifted OUT of the scope (it
    # outlives this function on the report) after the eager checkpoint
    # has captured its data.
    with batch_scope() as _op_pins:
        pairs = materialize(
            D.minhash_lsh_pairs(
                exact,
                id_col=id_col,
                text_col=text_col,
                n=cfg.shingle_n,
                num_perm=cfg.minhash_perms,
                bands=cfg.minhash_bands,
                threshold=cfg.near_dup_threshold,
            )
        )
        _op_pins[:] = [f for f in _op_pins if f is not pairs]
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    # pinned: `near` feeds up to five downstream actions (count,
    # per-source token collect, gate count, chunking, the caller) —
    # unpinned it would re-execute per consumer
    near = materialize(exact.join(losers, id_col, "left_anti"))
    after_near = near.count()
    # gated and exact have no consumers past this point: one curate()
    # call must not hold 4-5 corpus-sized pins simultaneously (eager
    # modes only — under lazy 'disk' pinning downstream partitions may
    # still recompute through them, same guard as curation_stream)
    if persist_mode() in ("local", "reliable"):
        release(gated)
        release(exact)

    # DSIR selection: keep the most target-like fraction of the
    # deduped pool (importance.dsir_weights, length-normalized score;
    # deterministic (score desc, id asc) cut → same rows on re-run)
    after_dsir = None
    if dsir_target is not None and cfg.dsir_keep_frac < 1.0:
        from chillastic_spark import functions as CF
        from chillastic_spark.operators.importance import dsir_weights

        k = max(1, int(after_near * cfg.dsir_keep_frac))
        scored = dsir_weights(near, dsir_target, id_col=id_col, text_col=text_col)
        keep_ids = (
            scored.withColumn(
                "__s", CF.round_det(F.col("weight") / F.col("n_tokens"), 6)
            )
            .orderBy(F.desc("__s"), F.asc("doc_id"))
            .limit(k)
            .select(F.col("doc_id").alias(id_col))
        )
        prev_near = near
        near = materialize(near.join(keep_ids, id_col, "left_semi"))
        after_dsir = near.count()
        if persist_mode() in ("local", "reliable"):
            release(prev_near)  # superseded by the DSIR-selected pin

    # mixture sampling: per-source hash-gate rates solved for the token
    # budget (same math as the domain_mixture_manifest query), applied
    # as a deterministic per-doc gate — reproducible across runs,
    # retries, and cluster sizes
    after_mix = None
    mixture_zeroed: "list[str] | None" = None
    if mixture is not None:
        from chillastic_spark import functions as CF

        w_tot = sum(mixture.values())
        if w_tot <= 0:
            # validate BEFORE the per-source token collect: a bad
            # config must fail instantly, not after a corpus scan
            raise ValueError(
                "curate: mixture weights must sum to a positive value "
                f"(got {mixture!r})"
            )
        per_src = {
            r[source_col]: r["t"]
            for r in near.groupBy(source_col)
            .agg(F.sum(F.size(CF.words(text_col))).alias("t"))
            .collect()
        }
        rate_expr = None
        zeroed: list[str] = []
        for src, toks in per_src.items():
            desired = (cfg.mixture_budget * mixture.get(src, 0)) // w_tot
            rate = min(1.0, desired / toks) if toks else 0.0
            # round-half-up at 6 digits — the same quantization the
            # domain_mixture_manifest query reports as sample_rate
            gate = int(rate * 1_000_000 + 0.5)
            if gate == 0 and toks:
                # the WHOLE source drops — record it WHATEVER the cause:
                # a positive weight that quantized to zero, a source
                # absent from the mixture dict (a 'Web' vs 'web' key
                # mismatch silently zeroing a live source is exactly the
                # invisibility this report field exists to prevent), or
                # NULL-source rows (reported as '<null>')
                zeroed.append("<null>" if src is None else src)
            # NULL sources need an isNull gate: `== None` is
            # three-valued NULL, which would fall through to the
            # otherwise(0) and drop the rows without any report trace
            cond = (
                F.col(source_col).isNull()
                if src is None
                else F.col(source_col) == src
            )
            rate_expr = (
                F.when(cond, F.lit(gate))
                if rate_expr is None
                else rate_expr.when(cond, F.lit(gate))
            )
        mixture_zeroed = sorted(zeroed)
        if rate_expr is None:  # surviving pool is empty — nothing to gate
            after_mix = 0
        else:
            gate_col = rate_expr.otherwise(F.lit(0))
            h = (
                CF.hash60(F.concat(F.col(id_col).cast("string"), F.lit("#mix")))
                % 1_000_000
            )
            near = near.filter(h < gate_col)
            after_mix = near.count()

    chunks = chunk_documents(
        near, id_col=id_col, text_col=text_col,
        size=cfg.chunk_size, stride=cfg.chunk_stride,
    )
    n_chunks = chunks.count()

    return chunks, CurationReport(
        input_docs=input_docs,
        after_quality_gate=after_quality,
        after_exact_dedup=after_exact,
        after_near_dedup=after_near,
        chunks=n_chunks,
        after_decontamination=after_decon,
        after_dsir_selection=after_dsir,
        after_mixture_sampling=after_mix,
        mixture_zeroed_sources=mixture_zeroed,
        input_drift=input_drift,
        near_dup_pairs=pairs,
    )


def assemble(
    df: DataFrame,
    pairs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    train_pct: int = 90,
    val_pct: int = 5,
    n_shards: int = 8,
    near_dup_threshold: float = 0.5,
    shingle_n: int = 3,
    minhash_perms: int = 16,
    minhash_bands: int = 4,
) -> tuple[DataFrame, DataFrame]:
    """Dataset-assembly stage (the step after ``curate``): assign every
    doc a leakage-safe train/val/test split and an output shard.

    Split assignment hashes the doc's near-dup-cluster REPRESENTATIVE
    (pointer-jumping components over ``pairs``), so near-duplicates can
    never straddle splits; shard assignment hashes the doc id — the
    stateless, reproducible way for any number of writers to emit
    uniformly-sized output files without a global sort.

    ``pairs`` should be the pair list the dedup stage already computed
    (curate's MinHash-LSH candidates) — pass it to avoid a second
    signature pass; when None, pairs are computed here with the same
    LSH parameters. Docs in ``pairs`` that were dropped by dedup are
    ignored (left join onto ``df``).

    Returns (manifest, summary): per-doc
    (id, source, rep_id, split, shard, n_tokens) and the per-
    (split, shard) doc/token totals a shipping run publishes. The
    manifest comes back PINNED (one visible handle the caller may
    ``persist.release`` once consumed) — the alternative was leaking
    the operator-internal pins rep_of/connected_components create per
    call (the streaming callers scope them; the batch path never did).
    """
    from chillastic_spark.operators.assembly import rep_of, shard_of, split_of

    with batch_scope() as _op_pins:
        if pairs is None:
            # expose ALL the LSH knobs curate has: a fallback computed
            # with different num_perm/bands than the dedup stage would
            # produce a DIFFERENT candidate set, and two surviving
            # near-dups could straddle splits — the exact leakage this
            # function prevents
            pairs = D.minhash_lsh_pairs(
                df, id_col=id_col, text_col=text_col,
                n=shingle_n, num_perm=minhash_perms, bands=minhash_bands,
                threshold=near_dup_threshold,
            )
        m = rep_of(
            df.select(
                id_col, source_col, T.token_count(text_col).alias("n_tokens")
            ),
            pairs,
            id_col=id_col,
        )
        manifest = materialize(
            m.select(
                id_col,
                source_col,
                "rep_id",
                split_of(F.col("rep_id"), train_pct, val_pct).alias("split"),
                shard_of(F.col(id_col), n_shards).alias("shard"),
                "n_tokens",
            )
        )
        # the manifest pin outlives the scope (it is the return value);
        # everything else pinned during this call releases at exit
        _op_pins[:] = [f for f in _op_pins if f is not manifest]
    summary = manifest.groupBy("split", "shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
    )
    return manifest, summary
