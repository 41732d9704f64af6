"""Compiled-regex PII / toxicity scrub table.

Direct analog of the reference's declarative value-repair cache
(``wallaby2caom2/main_app.py:84-96``: a nested dict of attribute-path →
{bad value → good value}, applied once per record at ``main_app.py:253``).
Here the table is a flat ordered list of (pattern → replacement token);
priority order is part of the contract.

Application is a SINGLE left-to-right pass over one combined alternation.
The contract is lexer-style: the LEFTMOST match wins; listed order breaks
ties only at equal start positions. This differs from sequential
per-pattern passes when spans overlap at different starts — e.g.
``"99 123-45-6789 99"``: sequentially SSN would fire first giving
``"99 [SSN] 99"``, but the 13-digit-with-separators run starting at
position 0 is a CARD match, and leftmost wins → ``"[CARD]"``. Every such
span is still fully redacted (a coarser label swallows the finer one, never
the reverse, because each branch is \\b-anchored and at least as long as
what it covers); tests/test_scrub.py pins the overlap behavior. Single-pass
is ~5x less regex work (~0.26 → ~0.06 ms/row on 1 KB transcripts), and
scrub is the hottest python stage.

Shared by the Spark feature kernel (operators/fused_stage.py, compiled once
per executor worker at import) and the oracle labeler.
"""

from __future__ import annotations

import re

# Order matters: SSN before PHONE (an SSN is also phone-shaped), EMAIL early
# (emails contain digit runs). In the combined alternation, order = branch
# priority at equal match positions.
SCRUB_TABLE: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]"),
    (r"\b(?:\+?1[-. ]?)?(?:\(\d{3}\)|\d{3})[-. ]\d{3}[-. ]\d{4}\b", "[PHONE]"),
    (r"\b\d(?:[ -]?\d){12,15}\b", "[CARD]"),
    (r"\b(?:damnwort|frakking|scuzzbucket|gorramit)\b", "[TOXIC]"),  # synthetic lexicon
)

_COMBINED: re.Pattern[str] = re.compile(
    "|".join(f"(?P<g{i}>{p})" for i, (p, _) in enumerate(SCRUB_TABLE)),
    re.IGNORECASE,
)
_REPLACEMENTS: tuple[str, ...] = tuple(r for _, r in SCRUB_TABLE)

# Prescan gate: every table pattern needs a digit, an '@', or a toxic-lexicon
# stem somewhere in the text — one cheap scan skips the expensive alternation
# for the ~85% of clean transcripts (sound because a text the prescan rejects
# cannot match any table pattern).
_PRESCAN: re.Pattern[str] = re.compile(
    r"[0-9@]|frakking|scuzzbucket|damnwort|gorramit", re.IGNORECASE
)


def scrub_one(text: str | None) -> tuple[str | None, int]:
    """→ (scrubbed text, edit count). None passes through untouched."""
    if text is None:
        return None, 0
    if _PRESCAN.search(text) is None:
        return text, 0
    return _scrub_hit(text)


def _scrub_hit(text: str) -> tuple[str, int]:
    """The substitution pass alone (caller already ran the prescan)."""
    edits = 0

    def _repl(m: re.Match[str]) -> str:
        nonlocal edits
        edits += 1
        return _REPLACEMENTS[int(m.lastgroup[1:])]  # type: ignore[index]

    return _COMBINED.sub(_repl, text), edits


# RE2 version of _PRESCAN (same hit set: the char class is caseless
# already; the lexicon stems carry an inline (?i) group).
_PRESCAN_RE2 = r"[0-9@]|(?i:frakking|scuzzbucket|damnwort|gorramit)"

try:  # pyarrow is a hard dep of the pipeline, soft dep of the oracle
    import pyarrow as _pa
    import pyarrow.compute as _pc
except ImportError:  # pragma: no cover
    _pa = None

_ARROW_PINNED = False


def _pin_arrow_threads() -> None:
    """One executor core == one python worker: Arrow's kernel thread pool
    must not multiply that (32 workers x default-32-thread pools
    oversubscribe the host and fight the JVM for cores). Called from the
    batch path — the first scrub_batch in each WORKER process pins its
    pool — instead of at import, so merely importing this module (driver,
    oracle labeler, standalone scripts) keeps full Arrow parallelism."""
    global _ARROW_PINNED
    if not _ARROW_PINNED and _pa is not None:
        _pa.set_cpu_count(1)
        _ARROW_PINNED = True


def scrub_batch(
    texts: list[str | None], hits: list[bool] | None = None
) -> tuple[list[str | None], list[int]]:
    """Batch scrub, identical per-row semantics to :func:`scrub_one`.

    The prescan runs vectorized through Arrow's RE2 kernel (~2 us/row —
    27x faster than Python ``re``, and ~28x faster than the same pattern as
    a JVM ``rlike`` codegen column, java.util.regex being a backtracking
    engine; the prescan, not the substitution, dominated scrub since ~85%
    of rows are clean). ``hits`` lets a caller supply a precomputed mask;
    Python ``re`` remains the no-pyarrow fallback. Only hits pay the
    substitution."""
    if hits is None:
        if _pa is None:
            pairs = [scrub_one(t) for t in texts]
            return [p[0] for p in pairs], [p[1] for p in pairs]
        _pin_arrow_threads()
        hits = _pc.match_substring_regex(
            _pa.array(texts, type=_pa.string()), _PRESCAN_RE2
        ).to_pylist()
    out_t: list[str | None] = list(texts)
    out_n: list[int] = [0] * len(texts)
    for i, hit in enumerate(hits):
        if hit:
            out_t[i], out_n[i] = _scrub_hit(texts[i])  # type: ignore[arg-type]
    return out_t, out_n
