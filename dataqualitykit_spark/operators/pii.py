"""Checksum-validated PII detection — Luhn credit-card scrubbing.

The north rule's PII bank (semantics.PII_BANK: email/SSN/phone/IP) is a
pure-regex contract; card numbers need more, because a bare 13-19-digit
regex mass-flags order ids, tracking numbers and timestamps. Industry
practice (and the reference's validate-then-fix shape) is regex
candidates + Luhn mod-10 validation (ISO/IEC 7812): only candidates
whose digits pass the checksum are masked, everything else is left
byte-intact.

This is deliberately a SEPARATE operator from the scrub bank: PII_BANK
is the byte-exact pipeline contract (BASELINE.json input_hint) shared by
the Arrow scrub UDF, the python oracle and the driver goldens — extending
it would change every pipeline fixture. Compose this after (or before)
the bank scrub; masking is idempotent and order-independent w.r.t. the
bank's tokens (none contain digit runs).

Scale shape: per-document decision, ONE Arrow batch pass, zero shuffle.
The DuckDB oracle reproduces the FULL byte-level scrub: RE2 splits the
text on the candidate regex (parts = non-match segments), validates each
candidate with a list-HOF Luhn, and re-interleaves parts with
(valid ? '<CC>' : candidate) — engine parity prototyped first (0
mismatches at sf0.001/sf0.01, byte level, including 40-digit runs that
exceed the length cap) and now pinned by the `pii_luhn` driver oracle.

Reference parity: extends QualityControl.py's format-consistency checks
(regex-only) with checksum validation the reference lacks.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F

# 13-19 digits with optional single space/dash separators between digits.
# Greedy + \b semantics verified identical in python re / RE2 / Java regex
# by the parity prototype (runs longer than 19 digits match nowhere — the
# trailing \b fails mid-run on every backtrack).
CC_CANDIDATE_REGEX = r"\b(?:\d[ -]?){12,18}\d\b"
_cand_re = re.compile(CC_CANDIDATE_REGEX)
_nondigit_re = re.compile(r"[^0-9]")

CC_TOKEN = "<CC>"


def luhn_valid(digits: str) -> bool:
    """ISO/IEC 7812 mod-10: double every second digit from the right,
    subtract 9 when the double exceeds 9, sum must be divisible by 10."""
    s = 0
    for i, ch in enumerate(reversed(digits)):
        d = ord(ch) - 48
        if i % 2 == 1:
            d *= 2
            if d > 9:
                d -= 9
        s += d
    return s % 10 == 0


def py_scrub_credit_cards(text: str | None) -> tuple[str, int, int]:
    """(scrubbed, n_candidates, n_valid). Executor code AND test mirror;
    split+interleave instead of re.sub-with-callable so the shape is the
    exact one the SQL oracle reproduces."""
    t = text or ""
    parts = _cand_re.split(t)
    matches = _cand_re.findall(t)
    out = [parts[0]]
    n_valid = 0
    for m, p in zip(matches, parts[1:]):
        if luhn_valid(_nondigit_re.sub("", m)):
            out.append(CC_TOKEN)
            n_valid += 1
        else:
            out.append(m)
        out.append(p)
    return ("".join(out), len(matches), n_valid)


def scrub_credit_cards(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds cc_scrubbed / n_cc_candidates / n_cc_valid in one Arrow pass."""
    import pandas as pd

    def batch(texts):  # no type hints (pandas_udf eval-type inference
        # rejects string annotations under from __future__ annotations)
        rows = [py_scrub_credit_cards(t) for t in texts]
        return pd.DataFrame(
            rows, columns=["cc_scrubbed", "n_cc_candidates", "n_cc_valid"]
        )

    udf = F.pandas_udf(
        batch,
        returnType="cc_scrubbed string, n_cc_candidates int, n_cc_valid int",
    )
    out = df.withColumn("_cc", udf(F.col(text_col)))
    return out.select(
        "*",
        F.col("_cc.cc_scrubbed").alias("cc_scrubbed"),
        F.col("_cc.n_cc_candidates").alias("n_cc_candidates"),
        F.col("_cc.n_cc_valid").alias("n_cc_valid"),
    ).drop("_cc")
