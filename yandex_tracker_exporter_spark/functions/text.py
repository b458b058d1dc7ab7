"""Text normalization functions (reference P2/P3).

Semantics from ``tracker_exporter/utils/helpers.py:102-117`` (snake_case)
and ``:247-258`` (emoji strip), validated by the reference's own test
vectors (``tests/test_helpers.py:138-166,235-243``).

The reference uses Python lookaround regexes; these are re-expressed as
capture-group substitutions, which are equivalent here because each
boundary rule's two character classes are disjoint (no overlapping
matches possible) — and capture groups also run on RE2-based engines
(DuckDB oracle parity).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

def _qident(name: str) -> str:
    """Backtick-quote a column name for use inside SQL expression text."""
    return "`" + name.replace("`", "``") + "`"


# Boundary rules, applied in order, then lowercased:
#   lower-letter→UPPER-letter, lower-letter→digit, digit→lower-letter
# get an underscore inserted; any remaining non-word char becomes '_'.
_LOWER = "a-zа-яё"
_UPPER = "A-ZА-ЯЁ"
SNAKE_RULES: tuple[tuple[str, str], ...] = (
    (f"([{_LOWER}])([{_UPPER}])", "$1_$2"),
    (f"([{_LOWER}])([0-9])", "$1_$2"),
    (f"([0-9])([{_LOWER}])", "$1_$2"),
    (f"[^a-zA-Z{_LOWER}{_UPPER}0-9_]", "_"),
)


def to_snake_case(col: Column | str) -> Column:
    """camel/Pascal/kebab/space → snake_case; Cyrillic-aware (P2).

    null → null; blank/whitespace-only → empty string (the reference
    returns ``text.strip()`` for blank input, ``helpers.py:108-109``).
    """
    c = F.col(col) if isinstance(col, str) else col
    out = c
    for pattern, replacement in SNAKE_RULES:
        out = F.regexp_replace(out, pattern, replacement)
    out = F.lower(out)
    return F.when(F.trim(c) == "", F.trim(c)).otherwise(out)


#: Emoji codepoint ranges stripped by the reference (``helpers.py:249-258``):
#: emoticons, symbols & pictographs, transport & map, flags.
EMOJI_PATTERN = (
    "["
    "\U0001f600-\U0001f64f"
    "\U0001f300-\U0001f5ff"
    "\U0001f680-\U0001f6ff"
    "\U0001f1e0-\U0001f1ff"
    "]+"
)


def string_normalize(col: Column | str) -> Column:
    """Strip emoji ranges from a string (P3, used on issue titles)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, EMOJI_PATTERN, "")


#: Latin-1 / Latin Extended-A accent fold table shared by engine and
#: oracle — an EXPLICIT mapping (not locale/ICU NFKD, which differs
#: across engines) so canonicalization is bit-reproducible anywhere.
ACCENT_SRC = "àáâãäåāçćčèéêëēėęìíîïīįñńòóôõöōøśšùúûüūýÿžźż"
ACCENT_DST = "aaaaaaaccceeeeeeeiiiiiinnooooooossuuuuuyyzzz"


def canonicalize_text(col: Column | str) -> Column:
    """Dedup-grade text canonicalization: lowercase, fold accents via
    the explicit table, collapse all whitespace runs to single spaces,
    and trim. The standard pre-hashing normalization of a cleaning
    pipeline — two near-identical documents differing only in case,
    diacritics, or spacing canonicalize to the same bytes. Map-only.
    """
    c = F.col(col) if isinstance(col, str) else col
    lowered = F.lower(c)
    folded = F.translate(lowered, ACCENT_SRC, ACCENT_DST)
    return F.trim(F.regexp_replace(folded, r"\s+", " "))
