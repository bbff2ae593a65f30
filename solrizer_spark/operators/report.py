"""Corpus card: a dataset datasheet over an id+text table
(engine-original; the training-data release companion to ``curate.py``
— "Datasheets for Datasets"-style summary of what a curation run
produced).

Scale design: exactly three jobs regardless of corpus size —

1. one per-language rollup (single map-side-combinable shuffle on a
   low-cardinality key; global totals are derived driver-side from the
   per-language partials, so no second full scan for them),
2. one global distribution pass (``percentile_approx`` — t-digest-
   style mergeable sketches, no shuffle beyond the final single-row
   combine; approximate by design at 10^12 rows),
3. one top-domains TakeOrdered (only when a url column is given).

Everything else (markdown rendering) is driver-side over the tiny
aggregate results.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text_stats import (
    dup_line_fraction,
    langid,
    quality_score,
    token_count,
)

#: length/quality quantiles reported on the card
QUANTILES = [0.1, 0.5, 0.9, 0.99]


def corpus_card_stats(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str | None = None,
    url_col: str | None = None,
    top_domains: int = 10,
) -> dict[str, Any]:
    """Compute the card's numbers. ``lang_col=None`` derives language
    with the engine's ``langid`` heuristic. Returns a plain dict
    (JSON-serializable) — rendering is separate so callers can ship
    the stats to a metrics table instead."""
    text = F.col(text_col)
    lang = F.col(lang_col) if lang_col else langid(text_col)

    per_lang = (
        df.groupBy(lang.alias("lang"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(text).alias("n_docs_with_text"),
            F.sum(F.length(text)).alias("total_chars"),
            F.sum(token_count(text)).alias("total_tokens"),
            F.avg(quality_score(text)).alias("avg_quality"),
        )
        .orderBy(F.desc("n_docs"))
        .collect()
    )
    n_docs = sum(r["n_docs"] for r in per_lang)
    langs = [
        {
            "lang": r["lang"],
            "n_docs": r["n_docs"],
            "fraction": r["n_docs"] / n_docs if n_docs else 0.0,
            "total_tokens": int(r["total_tokens"] or 0),
            "avg_quality": round(float(r["avg_quality"]), 4)
            if r["avg_quality"] is not None
            else None,
        }
        for r in per_lang
    ]

    dist = df.agg(
        F.percentile_approx(F.length(text), QUANTILES).alias("len_q"),
        F.percentile_approx(quality_score(text), QUANTILES).alias("quality_q"),
        F.avg(dup_line_fraction(text)).alias("avg_dup_line_fraction"),
    ).collect()[0]

    stats: dict[str, Any] = {
        "n_docs": n_docs,
        "n_docs_with_text": sum(r["n_docs_with_text"] for r in per_lang),
        "total_chars": int(sum(r["total_chars"] or 0 for r in per_lang)),
        "total_tokens": int(sum(r["total_tokens"] or 0 for r in per_lang)),
        "length_quantiles": dict(
            zip((str(q) for q in QUANTILES), [int(v) for v in (dist["len_q"] or [])])
        ),
        "quality_quantiles": dict(
            zip(
                (str(q) for q in QUANTILES),
                [round(float(v), 4) for v in (dist["quality_q"] or [])],
            )
        ),
        "avg_dup_line_fraction": round(float(dist["avg_dup_line_fraction"]), 4)
        if dist["avg_dup_line_fraction"] is not None
        else None,
        "languages": langs,
    }

    if url_col:
        from ..functions.urls import registered_domain

        doms = (
            df.groupBy(registered_domain(url_col).alias("domain"))
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy(F.desc("n_docs"), F.asc("domain"))
            .limit(top_domains)
            .collect()
        )
        stats["top_domains"] = [
            {"domain": r["domain"], "n_docs": r["n_docs"]} for r in doms
        ]
    return stats


def render_corpus_card(stats: dict[str, Any], title: str = "Corpus card") -> str:
    """Render the stats dict as a markdown datasheet."""
    lines = [f"# {title}", ""]
    lines += [
        f"- **Documents**: {stats['n_docs']:,} "
        f"({stats['n_docs_with_text']:,} with text)",
        f"- **Total characters**: {stats['total_chars']:,}",
        f"- **Total whitespace tokens**: {stats['total_tokens']:,}",
    ]
    if stats.get("avg_dup_line_fraction") is not None:
        lines.append(
            f"- **Mean duplicate-line fraction**: {stats['avg_dup_line_fraction']}"
        )
    lines += ["", "## Length distribution (chars, approx quantiles)", ""]
    lines.append("| quantile | " + " | ".join(stats["length_quantiles"]) + " |")
    lines.append("|---|" + "---|" * len(stats["length_quantiles"]))
    lines.append(
        "| chars | "
        + " | ".join(str(v) for v in stats["length_quantiles"].values())
        + " |"
    )
    lines.append(
        "| quality | "
        + " | ".join(str(v) for v in stats["quality_quantiles"].values())
        + " |"
    )
    lines += ["", "## Languages", ""]
    lines.append("| lang | docs | share | tokens | avg quality |")
    lines.append("|---|---|---|---|---|")
    for r in stats["languages"]:
        lines.append(
            f"| {r['lang']} | {r['n_docs']:,} | {r['fraction']:.1%} "
            f"| {r['total_tokens']:,} | {r['avg_quality']} |"
        )
    if stats.get("top_domains"):
        lines += ["", "## Top domains (eTLD+1)", ""]
        lines.append("| domain | docs |")
        lines.append("|---|---|")
        for r in stats["top_domains"]:
            lines.append(f"| {r['domain']} | {r['n_docs']:,} |")
    lines.append("")
    return "\n".join(lines)
