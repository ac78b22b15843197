"""String scalar functions (SURVEY.md §2.8 strings).

All pure Column expressions — whole-stage-codegen friendly. The one
genuinely non-built-in op (unicode NFD diacritic fold) uses a
`translate` table covering Latin-1/Māori macrons, matching the
reference's NFD-strip compare (tlc-localities.js:282-287) for the
character classes it actually sees.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# diacritic fold table (covers NZ place-name characters + Latin-1)
_DIACRITICS = "āēīōūĀĒĪŌŪáéíóúÁÉÍÓÚàèìòùÀÈÌÒÙâêîôûÂÊÎÔÛäëïöüÄËÏÖÜãñõÃÑÕçÇ"
_FOLDED = "aeiouAEIOUaeiouAEIOUaeiouAEIOUaeiouAEIOUaeiouAEIOUanoANOcC"


def fold_diacritics(col: Column | str) -> Column:
    """Strip diacritics for case/diacritic-insensitive matching (J4;
    ref power-outages/scrapers/tlc-localities.js:282-287)."""
    col = F.col(col) if isinstance(col, str) else col
    return F.translate(col, _DIACRITICS, _FOLDED)


def ascii_guarded(col: Column | str, context: str) -> Column:
    """Pass ``col`` through unchanged, raising at EXECUTION time if any
    value contains a non-ASCII character.

    Guard for cross-engine contracts that are only codepoint-exact on
    ASCII: ``levenshtein`` counts codepoints vs graphemes differently
    per engine outside ASCII, and ``lower()`` case-folding is
    engine-defined for İ/ß-class letters — a non-ASCII blocking key in
    a name-matching pipeline would silently produce different pairs in
    Spark and an oracle. Raising converts that silent divergence into
    a loud, attributable failure naming the call site; callers whose
    key domain legitimately widens past ASCII should fold first
    (:func:`fold_diacritics`) or adopt an explicit cross-engine
    collation instead of this guard. Cost: one anchored character-class
    regexp per row — noise next to the edit-distance it protects.
    NULLs pass through (they carry no key and are filtered upstream).
    """
    col = F.col(col) if isinstance(col, str) else col
    msg = (
        f"{context}: non-ASCII blocking key (levenshtein/lower are only "
        "codepoint-exact on ASCII cross-engine); fold_diacritics or widen "
        "the contract first"
    )
    # raise_error over a LITERAL Column — the message never passes
    # through the SQL parser, so quotes/backslashes in `context` can't
    # break parsing or mangle escapes.
    return F.when(col.isNull() | col.rlike("^[\\x00-\\x7F]*$"), col).otherwise(
        F.raise_error(F.lit(msg))
    )


def sanitize_log(col: Column | str) -> Column:
    """Strip control characters (ref ais-proxy/server.js:97-100)."""
    col = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(col, r"[\x00-\x1f\x7f]", "")


def zero_pad(col: Column | str, width: int) -> Column:
    """padStart equivalent (ETA fields, ref ais-proxy/server.js:503-507)."""
    col = F.col(col) if isinstance(col, str) else col
    return F.lpad(col.cast("string"), width, "0")


def extract_embedded_json(col: Column | str, var_name: str) -> Column:
    """Extract `window.<var> = {...};`-style embedded JSON from HTML
    (S6; ref power-outages/scrapers/orion.js:5-38).

    `(?s)` so the payload may span lines (the reference's `[\\s\\S]*?`
    does the same — pretty-printed embedded JSON is the common case);
    ``var_name`` is regex-escaped so names with metacharacters (e.g.
    `$data`) match literally. Like the reference's non-greedy body,
    a `};`/`];` INSIDE a string value still terminates the match —
    the grammar contract is that the embedded value contains no
    escaped terminator sequence.
    """
    col = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract(col, rf"(?s){re.escape(var_name)}[ \t\n\x0B\f\r]*=[ \t\n\x0B\f\r]*(\[.*?\]|\{{.*?\}})[ \t\n\x0B\f\r]*;", 1)


def callsign_fallback(callsign: Column | str, *fallbacks: Column | str) -> Column:
    """F18 (ref display-proxy/index.html:948-952): 'UNKNOWN' → first
    non-null metadata fallback."""
    callsign = F.col(callsign) if isinstance(callsign, str) else callsign
    fb = [F.col(f) if isinstance(f, str) else f for f in fallbacks]
    return F.coalesce(F.nullif(callsign, F.lit("UNKNOWN")), *fb)
