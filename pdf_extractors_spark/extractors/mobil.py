"""Mobil-oil catalog extraction (payload family ``catalog_page``).

Re-expresses ``mobil-oil/mobil-oil-extractor.py``:

* the 26-branch negative stop-list ``valid_line``
  (mobil-oil-extractor.py:6-29, operator F2),
* duplicate-prefix trim before the marker line
  (mobil-oil-extractor.py:134-144, operator F4),
* the hierarchical carry-forward state machine — manufacturer / year /
  model / engine context, emit-on-transition, ``Oil`` validity latch,
  SAAB-specific model branch, ``(Electric/Gas)`` engine-suffix merge
  (mobil-oil-extractor.py:31-121, operator M3),
* oil-code set de-dup (mobil-oil-extractor.py:54 ``list(set(oils))``,
  operator A2) — **deviation**: the reference's ``set()`` iteration order
  is PYTHONHASHSEED-dependent; we de-dup preserving first-occurrence order
  so output is deterministic under any parallelism (SURVEY.md §7 hard
  parts: encounter-order determinism).

**Deviation (per-turn statelessness)**: the reference carries
manufacturer/year/model/engine context across PAGES (state initialized
once, mobil-oil-extractor.py:36-41); here the turn is the unit of
parallelism, so context resets per payload. A page whose leading entries
continue the previous page's context belongs to conversation-level
stitching (pipeline.conv_stitch_arrow, a groupBy(conv_id).applyInArrow) before
extraction — the same trade nordic.py documents for its header fields.
"""

from __future__ import annotations

import re

_MARKER = "FILTERS FOR PASSENGER CARS AND LIGHT TRUCKS/ FILTRES POUR VOITURES PARTICULIERES ET"

_STOP_EXACT = frozenset(
    {
        "MANUFACTURER-MODEL-ENGINE",
        "FABRICANT-MODELE-MOTEUR",
        "FABRICANTE-MODELO-MOTOR",
        "Oil",
        _MARKER,
        "VEHICULES UTILITAIRES LEGERS/ FILTROS PARA AUTOMOVILES Y CAMIONES LIGEROS",
        "Voir las page 2 pour une explication des renvois en bas de la page.",
        "Consulte la página 2 para obtener una explicación de las nota en la parte inferior de la página",
        "equipped with a Hengst filter housing cap, using AC-Delco # PF2257G. Synthetic Oil Application. Premium filter recommended.    568 Supplied aftermarket version GM O-ring #12577653",
        "only fits 2004 and later Cadillac, Chevrolet, GMC V6 engines. Synthetic Oil Application. Premium Filter Recommended.   ",
    }
)
_STOP_PREFIX = (
    "3 Availability limited to existing inventory.",
    "1 25 PSI by-pass valve Oil Filter",
    "threaded engine stud.",
    "574 Models without engine oil cooler.",
    "threads - Only use on VIN X - Sedan models",
    "Recommended.",
    "Filter recommended.",
    "Premium Filter Recommended.",
    "550 Synthetic Oil Application.",
    "For vehicles where the filter housing cap has a center post.",
)

_RE_MANUF = re.compile(r"^[A-Z ]{2,}$|([A-Z ]{2,})\W\(cont'd\)")
_RE_YEAR = re.compile(r"^\d{4}$|(^\d{4})\W\(cont'd\)$")
_RE_MODEL = re.compile(r"^[A-Z0-9a-z\-\s\(\)]+$")
_RE_MODEL_SAAB = re.compile(r"^[A-Z0-9a-z\-\s\(\)\.]+$")
_RE_ENGINE = re.compile(r"^[A-Za-z0-9\s\.\(\)\/\-\:\,]+$")
_RE_OIL = re.compile(r"M1C*-\d+\w|F\d{5}|Pri\.\sF\d{5}|Sec\.\sL\/F|w\/\sOil\sCooler\sM1C*-\d+\w")
_ELECTRIC = ("(Electric/Gas)", "(Electric/Gas) (Mexico)", "(Electric/Gas) (Canada)")


def valid_line(line: str) -> bool:
    """mobil-oil-extractor.py:6-29 — True iff the line is NOT boilerplate."""
    if line in _STOP_EXACT:
        return False
    return not line.startswith(_STOP_PREFIX)


def remove_duplicate_lines(lines: list[str]) -> list[str]:
    """mobil-oil-extractor.py:134-144 — drop everything before the marker."""
    out: list[str] = []
    seen = False
    for line in lines:
        if line == _MARKER and not seen:
            seen = True
        if seen:
            out.append(line)
    return out


def _dedup(oils: list[str]) -> list[str]:
    return list(dict.fromkeys(oils))


def parse_lines(page_number: int, lines: list[str]) -> list[dict]:
    """The M3 state machine (mobil-oil-extractor.py:31-121)."""
    data: list[dict] = []
    manufacturer = year = model = engine = None
    oils: list[str] = []
    valid = False

    def emit():
        data.append(
            {
                "page_number": page_number,
                "manufacturer": manufacturer,
                "year": year,
                "model": model,
                "engine": engine,
                "oil": _dedup(oils),
            }
        )

    for index, raw in enumerate(lines):
        line = raw.strip()
        if valid and valid_line(line):
            # reference matches the RAW next line (mobil-oil-extractor.py:51
            # — only `line` is stripped); a padded year line therefore fails
            # the manufacturer confirmation, bug-for-bug. Deviation: the
            # reference IndexErrors when such a line is last; we treat
            # end-of-lines as no-match (per-row quarantine design).
            nxt = lines[index + 1] if index + 1 < len(lines) else ""
            # manufacturer line, confirmed by a year on the next line
            # (mobil-oil-extractor.py:50-60)
            if _RE_MANUF.match(line) and _RE_YEAR.match(nxt):
                if manufacturer and model and engine and oils:
                    emit()
                manufacturer = line.split(" ")[0]
                model = engine = None
                oils = []
                continue
            # year line (mobil-oil-extractor.py:63-71)
            if _RE_YEAR.match(line):
                if manufacturer and model and engine and oils:
                    emit()
                year = line.split(" ")[0]
                model = engine = None
                oils = []
                continue
            # model line; SAAB models may contain '.' (mobil-oil-extractor.py:74-93)
            model_re = _RE_MODEL_SAAB if manufacturer == "SAAB" else _RE_MODEL
            if model_re.match(line) and manufacturer and not _RE_OIL.match(line):
                if model and engine and oils:
                    emit()
                model = line
                engine = None
                oils = []
                continue
            # engine / oil line (mobil-oil-extractor.py:96-109)
            if _RE_ENGINE.match(line) and model:
                line_ns = line.replace(" ", "")
                if not _RE_OIL.match(line_ns):
                    # the reference compares the SPACE-STRIPPED line against
                    # the spaced '(Electric/Gas) (Mexico)/(Canada)' literals
                    # (mobil-oil-extractor.py:97-105), so only the spaceless
                    # '(Electric/Gas)' can ever match — bug-for-bug
                    if engine is not None and line_ns not in _ELECTRIC:
                        emit()
                        oils = []
                    if line_ns not in _ELECTRIC:
                        engine = line_ns
                    else:
                        engine = f"{engine} {line_ns}"
                else:
                    oils.extend(_RE_OIL.findall(line_ns))
                continue
        if line == "Oil":
            valid = True

    # final flush (mobil-oil-extractor.py:118-119)
    if model and engine and oils:
        emit()
    return data


def extract(payload: str, page_number: int = 0) -> dict:
    lines = remove_duplicate_lines(payload.split("\n"))
    records = parse_lines(page_number, lines)
    kept = [ln for ln in lines if valid_line(ln.strip())]
    return {
        "extracted_text": "\n".join(kept),
        "spans": [],
        "records": records,
        "parse_errors": 0,
    }
