"""spark-submit entrypoint: corpus curation over an extracted docs table.

    spark-submit --master local[8] curate.py \
        --input /tmp/out/docs --output /tmp/curated \
        --ops linededup,normalize,quality,exactdedup,neardedup,chunk

The companion to ``job.py`` (extraction): this runs the
training-data side of the engine — cleaning, dedup, filtering,
chunking, mixing — as a composable op pipeline over any table with an
id column and a text column. Each op is one of the library operators
(SURVEY.md §2.13/§2.14), so everything here is the oracle-tested code
path, just wired end-to-end.

Ops (applied in the order given):

* ``normalize``   control-char strip + whitespace collapse
                  (collapses NEWLINES too — run ``linededup`` BEFORE
                  it if you need line structure)
* ``quality``     keep docs with quality_score ≥ --min-quality
* ``fluency``     self-train a bigram LM on the corpus, keep docs
                  whose mean transition probability ≥ --min-fluency
                  (docs too short to have a bigram pass)
* ``langs``       keep docs whose langid is in --langs
* ``linededup``   corpus-wide repeated-line removal (C4 rule); docs
                  left with no lines are dropped
* ``canonicaldedup``  collapse declared rel=canonical variants onto
                  their target (needs the kernel-extracted
                  ``canonical_url`` column; the cheapest dedup wave —
                  run it before content hashing)
* ``exactdedup``  keep one doc per identical text (minimum id)
* ``neardedup``   MinHash-LSH pairs → connected components → keep
                  each cluster's minimum-id doc
* ``basededup``   drop docs duplicating --base-path (exact + near
                  vs an EXISTING corpus — the crawl-increment mode;
                  new-vs-new dups kept, compose exactdedup/neardedup
                  after it for within-batch dedup). With --base-index
                  (a ``write_lsh_index`` directory) only the
                  increment is signatured — the repeated-increment
                  fast path
* ``bloomdedup``  drop docs whose text hits a broadcast Bloom filter
                  of the base corpus (--bloom-path saved filter, or
                  built from --base-path at --bloom-fpp). Exact "no
                  duplicate survives" guarantee, ~fpp of new rows
                  lost; add --bloom-exact to anti-join only the
                  "maybe" slice and lose nothing. Zero shuffle on the
                  definite-new path — the 10^12-base increment mode
* ``decontaminate`` drop docs sharing an 8-gram with --benchmark-file
                  (one benchmark text per line)
* ``scrub``       PII redaction (emails/IPv4/phones)
* ``mix``         temperature-weighted source rebalancing
                  (--mix-source-col, --mix-temperature)
* ``dsir``        DSIR importance resampling toward a target domain
                  (--dsir-target-lang via langid; keeps the
                  --dsir-keep-frac highest-importance docs)
* ``chunk``       split into --chunk-tokens windows with
                  --chunk-overlap carry (emits chunk rows)

Per-op row counts are collected by default (``--stats full``): each
op's output is materialized once (an eager ``localCheckpoint``; like
the connected-component rounds it is not fault-tolerant — a lost
executor fails the run) and counted, and the next op and the write
read that checkpoint instead of re-running every op before it.
``--stats none`` keeps the pipeline fully lazy — one plan, run by the
write — for giant runs where the sink row count suffices. Either way
the ``neardedup`` entry carries ``lsh``, the stats of its pair step
(``path`` driver|distributed, ``docs``, ``text_bytes``), and ``cc``,
those of its connected-components step (``path``, ``pairs``,
``rounds``, ``converged``).
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from solrizer_spark import jvm_archive
from solrizer_spark.session import get_spark, release

KNOWN_OPS = (
    "normalize", "quality", "fluency", "langs", "linededup", "substrdedup",
    "canonicaldedup", "exactdedup", "neardedup", "basededup", "bloomdedup",
    "semdedup",
    "decontaminate", "scrub", "mix", "tokenbudget", "ppltier", "dsir", "chunk",
)


def apply_op(
    df: DataFrame, op: str, args, id_col: str, text_col: str, persisted: list,
    stats: dict | None = None,
) -> DataFrame:
    if op == "normalize":
        from solrizer_spark.functions.scrub import normalize_text

        return df.withColumn(text_col, normalize_text(text_col))
    if op == "quality":
        from solrizer_spark.functions.text_stats import quality_score

        return df.where(quality_score(text_col) >= args.min_quality)
    if op == "fluency":
        from solrizer_spark.operators.lm import lm_score, train_bigram_model

        df = df.persist()  # scanned 3x: training, scoring, keep-join
        persisted.append(df)
        model = train_bigram_model(df, text_col=text_col, id_col=id_col)
        scored = lm_score(df, model, text_col=text_col, id_col=id_col)
        drop = scored.where(
            (F.col("n_bigrams") > 0) & (F.col("mean_p") < args.min_fluency)
        ).select(id_col)
        return df.join(drop, id_col, "left_anti")
    if op == "ppltier":
        from solrizer_spark.operators.lm import lm_score, train_bigram_model
        from solrizer_spark.operators.sampling import score_buckets

        df = df.persist()  # scanned 3x: training, scoring, keep-join
        persisted.append(df)
        model = train_bigram_model(df, text_col=text_col, id_col=id_col)
        scored = lm_score(df, model, text_col=text_col, id_col=id_col)
        tiers = score_buckets(
            scored, "mean_p", n_buckets=args.ppl_tiers, key_col=id_col,
            sample_fraction=args.ppl_sample_fraction,
        )
        keep = tiers.where(
            F.col("score_bucket").isNull()  # unscorable: not CCNet's call
            | (F.col("score_bucket") < args.ppl_keep_tiers)
        ).select(id_col)
        return df.join(keep, id_col, "left_semi")
    if op == "langs":
        from solrizer_spark.functions.text_stats import langid

        keep = [s.strip() for s in args.langs.split(",") if s.strip()]
        return df.where(langid(text_col).isin(keep))
    if op == "linededup":
        from solrizer_spark.operators.dedup import remove_repeated_lines

        cleaned = remove_repeated_lines(
            df, id_col=id_col, text_col=text_col, min_count=args.line_min_count
        ).where(F.col("n_lines_kept") > 0)
        return (
            df.drop(text_col)
            .join(cleaned.select(id_col, "cleaned_text"), id_col)
            .withColumnRenamed("cleaned_text", text_col)
        )
    if op == "substrdedup":
        from solrizer_spark.operators.dedup import remove_duplicate_spans

        cleaned = remove_duplicate_spans(
            df, id_col=id_col, text_col=text_col,
            span_tokens=args.span_tokens, keep=args.span_keep,
        ).where(F.col("n_tokens_kept") > 0)
        return (
            df.drop(text_col)
            .join(cleaned.select(id_col, "cleaned_text"), id_col)
            .withColumnRenamed("cleaned_text", text_col)
        )
    if op == "canonicaldedup":
        # rel=canonical variants collapse onto their declared target
        # (job.py --dedup canonical, composable here when the input
        # carries the kernel-extracted canonical_url column)
        if "canonical_url" not in df.columns:
            raise SystemExit(
                "canonicaldedup needs a canonical_url column (extraction "
                "emits it; re-run the job or drop the op)"
            )
        ckey = F.coalesce(F.col("canonical_url"), F.col(id_col).cast("string"))
        w = Window.partitionBy(ckey).orderBy(
            F.when(F.col(id_col).cast("string") == ckey, F.lit(0))
            .otherwise(F.lit(1))
            .asc(),
            F.col(id_col).asc(),
        )
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
    if op == "exactdedup":
        # null-text rows must not collapse into one "duplicate" group:
        # key them by their own id instead (same guard as job.py
        # --dedup exact)
        key = F.md5(F.coalesce(F.col(text_col), F.col(id_col).cast("string")))
        w = Window.partitionBy(key).orderBy(F.col(id_col).asc())
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
    if op == "neardedup":
        from solrizer_spark.operators.dedup import (
            connected_components,
            dedup_keep_canonical,
            minhash_lsh_pairs,
        )

        df = df.persist()
        persisted.append(df)
        # null-text docs are in no cluster and pass through the
        # left-anti keep — excluding them from pair generation also
        # avoids the degenerate all-null-signature LSH bucket (same
        # guard as job.py --dedup near)
        lsh: dict = {}
        pairs = minhash_lsh_pairs(
            df.where(F.col(text_col).isNotNull()).select(id_col, text_col),
            id_col=id_col,
            text_col=text_col,
            threshold=args.near_threshold,
            persisted=persisted,
            stats=lsh,
        )
        cc: dict = {}
        comps = connected_components(pairs, stats=cc)
        if stats is not None:
            stats.update(lsh=lsh, cc=cc)
        persisted.append(comps)  # star's final label checkpoint
        return dedup_keep_canonical(df, comps, id_col=id_col)
    if op == "basededup":
        if args.base_index:
            from solrizer_spark.operators.dedup import dedup_against_index

            return dedup_against_index(
                df, args.base_index, id_col=id_col, text_col=text_col,
                threshold=args.near_threshold, persisted=persisted,
            )
        from solrizer_spark.operators.dedup import dedup_against_base

        # schema validated up front in run_curate (fail-early rule)
        base = df.sparkSession.read.parquet(args.base_path)
        return dedup_against_base(
            df, base.select(id_col, text_col), id_col=id_col,
            text_col=text_col, threshold=args.near_threshold,
            persisted=persisted,
        )
    if op == "bloomdedup":
        # cross-increment EXACT dedup by broadcast Bloom filter: zero
        # join for definite-new rows. --bloom-path loads a saved
        # filter (the amortized production shape); otherwise the
        # filter is built here over --base-path's text column. With
        # --bloom-exact the base is anti-joined for the ~fpp "maybe"
        # slice so no genuinely-new row is ever lost.
        from solrizer_spark.operators.bloom import (
            bloom_build,
            bloom_dedup,
            bloom_dedup_exact,
            load_bloom,
        )

        spark = df.sparkSession
        if args.bloom_index:
            from solrizer_spark.operators.bloom import bloom_index_dedup

            return bloom_index_dedup(df, text_col, args.bloom_index)
        if args.bloom_path:
            bf = load_bloom(spark, args.bloom_path)
        else:
            base = spark.read.parquet(args.base_path).select(text_col)
            n = base.count()
            bf = bloom_build(
                base,
                text_col,
                expected_items=max(n, 1),
                fpp=args.bloom_fpp,
                strategy="shuffle" if n > 20_000_000 else "local",
            )
        if args.bloom_exact:
            if not args.base_path:
                raise ValueError("--bloom-exact requires --base-path")
            base = spark.read.parquet(args.base_path).select(text_col)
            return bloom_dedup_exact(df, base, text_col, bf)
        return bloom_dedup(df, text_col, bf)
    if op == "semdedup":
        # SemDeDup (Abbas et al. 2023) at the pipeline surface: train
        # spherical k-means in-engine, flag within-cell embedding
        # near-dups, drop them. Embeddings come from an input column
        # or a (id, embedding) side parquet joined on id_col; docs
        # WITHOUT an embedding are in no cell and pass through.
        from solrizer_spark.operators.similarity import kmeans_fit, semantic_dedup

        emb_col = args.embedding_col
        if args.embeddings_path:
            side = df.sparkSession.read.parquet(args.embeddings_path).select(
                F.col(args.embedding_id_col or id_col).alias(id_col),
                F.col(emb_col),
            )
            vecs = df.select(id_col).join(side, id_col, "inner")
        else:
            vecs = df.select(id_col, emb_col)
        vecs = vecs.where(
            F.col(emb_col).isNotNull() & (F.size(emb_col) > 0)
        ).persist()  # scanned 1+n_iter times by Lloyd's, then assignment
        persisted.append(vecs)
        n_vecs = vecs.count()
        if n_vecs == 0:
            return df  # nothing embeddable — no-op, not an error
        cents = kmeans_fit(
            vecs, k=min(args.semdedup_cells, n_vecs),
            n_iter=args.semdedup_iters, id_col=id_col, vec_col=emb_col,
        )
        flags = semantic_dedup(
            vecs, cents, id_col=id_col, vec_col=emb_col,
            tau=args.semdedup_tau, max_cell=args.semdedup_max_cell,
        )
        drop = flags.where(F.col("semantic_dup")).select(id_col)
        return df.join(drop, id_col, "left_anti")
    if op == "decontaminate":
        from solrizer_spark.operators.decontam import flag_contaminated

        spark = df.sparkSession
        with open(args.benchmark_file, encoding="utf-8") as fh:
            rows = [(line.rstrip("\n"),) for line in fh if line.strip()]
        from solrizer_spark.session import local_df

        bench = local_df(spark, rows, "text string")
        flagged = flag_contaminated(df.select(id_col, text_col), bench,
                                    id_col=id_col, text_col=text_col)
        dirty = flagged.where(F.col("contaminated")).select(id_col)
        return df.join(dirty, id_col, "left_anti")
    if op == "scrub":
        from solrizer_spark.functions.scrub import scrub_pii

        return df.withColumn(text_col, scrub_pii(text_col))
    if op == "mix":
        from solrizer_spark.operators.sampling import temperature_mix

        return temperature_mix(
            df, args.mix_source_col, id_col, temperature=args.mix_temperature
        )
    if op == "tokenbudget":
        from solrizer_spark.functions.text_stats import token_count
        from solrizer_spark.operators.sampling import token_budget_mix

        toks = token_count(text_col)
        out = token_budget_mix(
            df.withColumn("_toks", toks),
            args.budget_tokens,
            args.mix_source_col,
            id_col,
            "_toks",
            exact=args.budget_exact,
        )
        return out.drop("_toks", "_target_tokens")
    if op == "dsir":
        import math

        from solrizer_spark.functions.text_stats import langid
        from solrizer_spark.operators.sampling import (
            dsir_importance_weights,
            dsir_log_ratio_table,
        )

        df = df.persist()  # scanned 3x: ratio agg, weighting, count
        persisted.append(df)
        target = langid(text_col) == args.dsir_target_lang
        ratios = dsir_log_ratio_table(
            df, text_col, target, buckets=args.dsir_buckets
        )
        k = max(1, math.ceil(df.count() * args.dsir_keep_frac))
        weighted = dsir_importance_weights(
            df, ratios, text_col, id_col, buckets=args.dsir_buckets, top_k=k
        )
        return df.join(
            weighted.where("selected").select(id_col), id_col, "left_semi"
        )
    if op == "chunk":
        from solrizer_spark.operators.sampling import chunk_text

        return chunk_text(
            df, text_col, chunk_tokens=args.chunk_tokens, overlap=args.chunk_overlap
        )
    raise ValueError(f"unknown op {op!r}")


def run_curate(spark, args) -> dict:
    ops = [o.strip() for o in args.ops.split(",") if o.strip()]
    unknown = [o for o in ops if o not in KNOWN_OPS]
    if unknown:
        raise ValueError(f"unknown op(s) {unknown}; available: {list(KNOWN_OPS)}")
    if "decontaminate" in ops and not args.benchmark_file:
        # fail BEFORE the expensive upstream ops run, not at open(None)
        raise ValueError("op 'decontaminate' requires --benchmark-file")
    if "basededup" in ops:
        if not args.base_path and not args.base_index:
            raise ValueError(
                "op 'basededup' requires --base-path or --base-index"
            )
        # validate the base BEFORE the expensive upstream ops run
        base_cols = (
            spark.read.parquet(f"{args.base_index}/signatures").columns
            if args.base_index
            else spark.read.parquet(args.base_path).columns
        )
        if args.base_index:
            base_cols = [args.id_col, args.text_col]  # index is pre-shaped
        for col in (args.id_col, args.text_col):
            if col not in base_cols:
                raise ValueError(
                    f"--base-path table is missing column {col!r} "
                    f"(has {sorted(base_cols)})"
                )
    if "bloomdedup" in ops:
        if not args.bloom_index and not args.bloom_path and not args.base_path:
            raise ValueError(
                "op 'bloomdedup' requires --bloom-index, --bloom-path or "
                "--base-path"
            )
        if not args.bloom_index and not args.bloom_path:
            base_cols = spark.read.parquet(args.base_path).columns
            if args.text_col not in base_cols:
                raise ValueError(
                    f"--base-path table is missing column {args.text_col!r} "
                    f"(has {sorted(base_cols)})"
                )
    if "semdedup" in ops and args.embeddings_path:
        # validate the side table BEFORE the expensive upstream ops run
        side_cols = spark.read.parquet(args.embeddings_path).columns
        for col in (args.embedding_id_col or args.id_col, args.embedding_col):
            if col not in side_cols:
                raise ValueError(
                    f"--embeddings-path table is missing column {col!r} "
                    f"(has {sorted(side_cols)})"
                )
    df = spark.read.parquet(args.input)
    for col in (args.id_col, args.text_col):
        if col not in df.columns:
            raise ValueError(f"input is missing column {col!r} (has {sorted(df.columns)})")
    if "semdedup" in ops and not args.embeddings_path:
        if args.embedding_col not in df.columns:
            raise ValueError(
                f"op 'semdedup' needs --embeddings-path or an input column "
                f"{args.embedding_col!r} (has {sorted(df.columns)})"
            )
    stats: dict = {"ops": []}
    if args.stats == "full":
        stats["rows_in"] = df.count()
    persisted: list = []
    for op in ops:
        entry = {"op": op}
        df = apply_op(df, op, args, args.id_col, args.text_col, persisted, entry)
        if args.stats == "full":
            # materialize the op once: its count, the next op and the
            # write read the checkpoint instead of re-running the prefix
            df = df.localCheckpoint()
            persisted.append(df)
            entry["rows_after"] = df.count()
        stats["ops"].append(entry)
    if args.output_format == "jsonl":
        # training-export shape: sharded gzip JSONL (one doc per line),
        # the standard LM-training input format; Spark's JSON sink is
        # JSONL per part file already
        df.write.mode("overwrite").option("compression", "gzip").json(args.output)
    else:
        df.write.mode("overwrite").parquet(args.output)
    for frame in persisted:  # release caches and op checkpoints
        release(frame)
    written = (
        # explicit schema: inference crashes on empty output and the
        # JSON writer omits null fields (all-null columns would vanish)
        spark.read.schema(df.schema).json(args.output)
        if args.output_format == "jsonl"
        else spark.read.parquet(args.output)
    )
    stats["rows_out"] = written.count()
    if args.report:
        from solrizer_spark.operators.report import (
            corpus_card_stats,
            render_corpus_card,
        )

        # chunk rows carry "chunk", not the input text column
        text_col = "chunk" if "chunk" in written.columns else args.text_col
        url_col = "url" if "url" in written.columns else None
        card = corpus_card_stats(written, text_col=text_col, url_col=url_col)
        with open(args.report, "w", encoding="utf-8") as fh:
            fh.write(render_corpus_card(card, title=f"Corpus card — {args.output}"))
        stats["report"] = args.report
    return stats


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="docs parquet (any table with id+text columns)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--ops", required=True, help=f"comma list from {','.join(KNOWN_OPS)}")
    ap.add_argument("--id-col", default="url")
    ap.add_argument("--text-col", default="extracted_text")
    ap.add_argument("--min-quality", type=float, default=0.5)
    ap.add_argument("--min-fluency", type=float, default=1e-4,
                    help="fluency op: minimum mean bigram transition probability")
    ap.add_argument("--langs", default="en")
    ap.add_argument("--line-min-count", type=int, default=3)
    ap.add_argument("--span-tokens", type=int, default=50,
                    help="substrdedup op: duplicated-window size in tokens")
    ap.add_argument("--span-keep", choices=["first", "none"], default="first",
                    help="substrdedup op: keep the globally-first copy or none")
    ap.add_argument("--near-threshold", type=float, default=0.8)
    ap.add_argument("--benchmark-file", default=None)
    ap.add_argument("--base-path", default=None,
                    help="basededup op: parquet path of the existing corpus")
    ap.add_argument("--base-index", default=None,
                    help="basededup op: write_lsh_index directory (increment-"
                    "only signaturing; takes precedence over --base-path)")
    ap.add_argument("--bloom-path", default=None,
                    help="bloomdedup op: saved save_bloom directory (skips "
                    "the build; takes precedence over --base-path)")
    ap.add_argument("--bloom-index", default=None,
                    help="bloomdedup op: sharded bloom_index_build directory "
                    "(the >=10^10-item form; per-task memory = one shard; "
                    "takes precedence over --bloom-path/--base-path)")
    ap.add_argument("--bloom-fpp", type=float, default=0.001,
                    help="bloomdedup op: filter false-positive rate when "
                    "building from --base-path (default 0.001)")
    ap.add_argument("--bloom-exact", action="store_true",
                    help="bloomdedup op: anti-join the base for bloom hits "
                    "so no genuinely-new row is lost (requires --base-path)")
    ap.add_argument("--embeddings-path", default=None,
                    help="semdedup op: (id, embedding) side parquet joined "
                         "on --id-col when the input has no embedding column")
    ap.add_argument("--embedding-col", default="embedding",
                    help="semdedup op: embedding array column name")
    ap.add_argument("--embedding-id-col", default=None,
                    help="semdedup op: id column in --embeddings-path "
                         "(defaults to --id-col)")
    ap.add_argument("--semdedup-cells", type=int, default=16,
                    help="semdedup op: k-means cells (grow with corpus — "
                         "the within-cell join is the quadratic unit)")
    ap.add_argument("--semdedup-tau", type=float, default=0.99,
                    help="semdedup op: cosine threshold for semantic dups")
    ap.add_argument("--semdedup-max-cell", type=int, default=256,
                    help="semdedup op: per-cell join-participant cap")
    ap.add_argument("--semdedup-iters", type=int, default=3,
                    help="semdedup op: Lloyd iterations")
    ap.add_argument("--mix-source-col", default="lang")
    ap.add_argument("--mix-temperature", type=float, default=0.7)
    ap.add_argument("--budget-tokens", type=int, default=1_000_000,
                    help="tokenbudget op: total token target, split over "
                         "--mix-source-col values by natural token mass")
    ap.add_argument("--ppl-tiers", type=int, default=3,
                    help="ppltier op: number of CCNet quantile tiers")
    ap.add_argument("--ppl-keep-tiers", type=int, default=2,
                    help="ppltier op: keep tiers < N (0 = head); CCNet "
                         "keeps head+middle by default")
    ap.add_argument("--ppl-sample-fraction", type=float, default=1.0,
                    help="ppltier op: hash-sample fraction for threshold "
                         "estimation (CCNet shape; use ~1e-4 at 10^12 docs)")
    ap.add_argument("--budget-exact", action="store_true",
                    help="tokenbudget op: exact running-sum cutoff instead "
                         "of the hash-rate approximation (adds a per-source "
                         "sort; use for small eval slices)")
    ap.add_argument("--dsir-target-lang", default="en",
                    help="dsir op: target domain = docs langid'd to this")
    ap.add_argument("--dsir-keep-frac", type=float, default=0.5,
                    help="dsir op: fraction of docs kept (importance top-k)")
    ap.add_argument("--dsir-buckets", type=int, default=512,
                    help="dsir op: hashed-feature dimension")
    ap.add_argument("--chunk-tokens", type=int, default=512)
    ap.add_argument("--chunk-overlap", type=int, default=64)
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("--stats", choices=["full", "none"], default="full",
                    help="full: materialize (localCheckpoint, not fault-"
                    "tolerant) and count each op once; none: one lazy "
                    "plan run by the write, for giant runs")
    ap.add_argument("--output-format", choices=["parquet", "jsonl"],
                    default="parquet",
                    help="jsonl: sharded gzip JSON-lines training export")
    ap.add_argument("--report", default=None,
                    help="write a markdown corpus card of the OUTPUT here")
    args = ap.parse_args()

    t0 = time.monotonic()
    spark = get_spark(app_name="solrizer-curate", cpus=args.cpus)
    startup = {"session_s": round(time.monotonic() - t0, 3), "jvm_archive": jvm_archive.state}
    print(json.dumps({**run_curate(spark, args), **startup}))
    spark.stop()


if __name__ == "__main__":
    main()
