#!/usr/bin/env python3
"""Regenerate docs/COVERAGE.md: every driver-contract query with its
check type (DuckDB value-hash vs rows-only) and one-line description
pulled from the query's docstring. Run after adding queries."""

from __future__ import annotations

import json
import os
import sys
from datetime import datetime, timezone

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402


def driver_gated_ever(repo: str, live: set[str]) -> tuple[set[str], set[str]]:
    """Names with a GREEN row in any round's CORRECTNESS file, split
    into (still registered, banked-but-demoted). A row is green when
    rows, schema and value hash all match and it carries no error; a
    rows-only or mismatched row is no evidence of value-checked
    coverage. The headline count is against the LIVE registry — a
    demoted query's banked row is evidence for code that may no longer
    be registered, so it is reported separately, never summed in.
    """
    ever: set[str] = set()
    for fn in sorted(os.listdir(repo)):
        if fn.startswith("CORRECTNESS_r") and fn.endswith(".json"):
            rows = json.load(open(os.path.join(repo, fn)))
            ever |= {name for name, row in rows.items() if _green(row)}
    return ever & live, ever - live


def _green(row: dict) -> bool:
    return (
        all(row.get(k) is True for k in ("rows_match", "schema_match", "hash_match"))
        and row.get("err") is None
    )


# descriptions for the lambda-defined queries (no docstring to pull)
FALLBACK = {
    "exact_dedup": "Exact dedup groups: hash-groupBy on md5(normalized text)",
    "minhash_signatures": "k-permutation MinHash signature per document (universal-hash family)",
    "ngram_jaccard": "Exact n-gram Jaccard for pairs sharing a shingle (hot-key guarded)",
    "simhash": "16-bit SimHash fingerprint, single-pass sign-vote",
    "token_count": "Whitespace + BPE-ish regex token counts",
    "quality_score": "Length/stopword/punctuation quality signal",
    "lang_id": "Stopword-hit language identification",
    "fingerprint": "Winnowing-style document fingerprint",
    "repetition_score": "Duplicated-n-gram repetition signal (Gopher/C4 style)",
    "vocab_topk": "Corpus vocabulary top-k by doc frequency",
    "extract_invoice_fields": "Full extraction rows, invoice family (X2/X3/M7/M8) — value-checked via invoice_records_flat",
    "extract_census_households": "Full extraction rows, census family (M1/M2/X12/X14-19/J1-J7) — value-checked via census_wide_flat",
    "extract_catalog_hierarchy": "Full extraction rows, catalog family (F2/F4/M3/A2) — value-checked via catalog_records_flat",
    "extract_coord_table": "Full extraction rows, coordinate family (S5/F5/F6/M4) — value-checked via coord_rows_flat",
    "extract_ruled_table": "Full extraction rows, ruled family (S3/S6/X1/M5/F10) — value-checked via ruled_rows_flat",
    "extract_fixedwidth_table": "Full extraction rows, fixed-width family (M6/F7/F8/X13) — value-checked via fixedwidth_items_flat",
    "extract_html_main_content": "Full extraction rows, HTML main-content family — value-checked via html_main_flat",
    "extract_form_fields": "Full extraction rows, form family (S10 + question mapping) — value-checked via form_*_flat",
}


def main() -> int:
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    window = entrymod._GATE_WINDOW
    rows = []
    for i, (name, fn) in enumerate(queries.items()):
        doc = (fn.__doc__ or FALLBACK.get(name, "")).strip().split("\n")[0].rstrip(".")
        check = "DuckDB value-hash" if name in oracles else "rows-only + pytest"
        gated = "driver-gated" if i < window else "local replay"
        rows.append((name, check, gated, doc))
    n_oracle = sum(1 for _, c, _, _ in rows if c.startswith("DuckDB"))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    gated_live, gated_demoted = driver_gated_ever(repo, set(queries))
    lines = [
        "# COVERAGE — driver-contract queries and how each is checked",
        "",
        f"Generated {datetime.now(timezone.utc).isoformat(timespec='seconds')} by",
        f"`scripts/coverage_table.py`. {len(rows)} queries, {n_oracle} with",
        "independent DuckDB SQL value-hash oracles; the rest are rows-only in",
        "the driver gate and exactly parity-tested in pytest (per-document",
        "state machines / iterative algorithms).",
        "",
        f"Driver-gated ever (green row in some CORRECTNESS_r*.json AND still",
        f"in the live registry): **{len(gated_live)} of {len(rows)}**"
        + (
            f"; plus {len(gated_demoted)} banked-but-demoted "
            f"({', '.join(f'`{n}`' for n in sorted(gated_demoted))}) — "
            "rows banked in a prior round for queries since removed from "
            "the registry, counted separately by design."
            if gated_demoted
            else "."
        ),
        "",
        f"The driver's correctness gate records the first {window} registry",
        "entries (the `_GATE_ORDER` contract in `__spark_entry__.py`); queries",
        "past the window are verified by the same comparator run locally",
        "(`scripts/check_oracles.py`; dated pass records in",
        "`docs/REPLAY.jsonl`) and by pytest.",
        "",
        "| query | check | where checked | what it covers |",
        "|---|---|---|---|",
    ]
    for name, check, gated, doc in rows:
        lines.append(f"| `{name}` | {check} | {gated} | {doc} |")
    path = os.path.join(repo, "docs", "COVERAGE.md")
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {path}: {len(rows)} queries, {n_oracle} oracled")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
