"""Arrow-batched scoring UDF: ALL per-document metrics in one Python pass.

One pandas UDF returning the full metric struct — fused so (a) the text
crosses the JVM<->Python Arrow boundary once, (b) one tokenize pass feeds
langid + word metrics, and (c) no metric is computed by interpreted JVM
string/array expressions. Measured on this host (500k docs, local[32]):
the JVM column-algebra metric projection costs ~1.3 ms/doc (regexp array
materialization, per-element lambdas, line splits); this fused UDF costs
~0.27 ms/doc single-threaded and scales with Python workers.

The column-algebra equivalents live on in functions/text.py — they back
the operator library and the DuckDB-checked `__spark_entry__` queries;
tests/test_text_metrics.py pins them and this UDF to the python
semantics.

The model code is imported from ``dataqualitykit_spark.semantics`` (same
functions the oracle calls), so engine and oracle cannot disagree. This is
the fastText/KenLM seam: swap `full_metrics` internals for real models on
a cluster; signatures stay put. (Replaces reference row-at-a-time F.udf
patterns, QualityControl.py:1341-1354.)
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..semantics import full_metrics

_FIELDS = [
    ("lang", StringType()),
    ("lang_conf", DoubleType()),
    ("ppl", DoubleType()),
    ("n_words", IntegerType()),
    ("mean_word_len", DoubleType()),
    ("stopword_hits", IntegerType()),
    ("n_chars", IntegerType()),
    ("symbol_count", IntegerType()),
    ("n_lines", IntegerType()),
    ("distinct_lines", IntegerType()),
    ("boilerplate_hits", IntegerType()),
    ("missing", BooleanType()),
]

SCORE_SCHEMA = StructType([StructField(n, t) for n, t in _FIELDS])

_NULL_SCORE = ("und", 0.0, 1e9, 0, 0.0, 0, 0, 0, 0, 0, 0, True)
_COLS = [n for n, _ in _FIELDS]


def _score_batch(texts: pd.Series) -> pd.DataFrame:
    scored = [_NULL_SCORE if t is None else full_metrics(t) for t in texts]
    return pd.DataFrame(scored, columns=_COLS)


# opt-in gate fields, appended to the fused scorer's schema only when
# their gate is on so the default pass pays nothing for them. Computed
# from the SAME python mirrors the oracle uses, riding the existing
# tokenize pass: the interpreted JVM HOF forms of the repetition
# fractions were measured at ~0.16 ms/doc — 9x the whole fused stage.
_REPETITION_FIELDS = [
    ("dup_line_char_frac", DoubleType()),
    ("dup_5gram_frac", DoubleType()),
]

# Gopher line-shape gate fields
_LINE_FIELDS = [
    ("bullet_line_frac", DoubleType()),
    ("ellipsis_line_frac", DoubleType()),
    ("alpha_word_frac", DoubleType()),
]

# token-entropy gate field; 0.0 for token-less text (the gate's
# entropy_min_words floor makes the degenerate value unreachable by the
# decide clause)
_ENTROPY_FIELDS = [
    ("token_entropy", DoubleType()),
]


# one model instance per python worker PROCESS (fastText/KenLM load once,
# score millions of rows). Keyed by a CONTENT DIGEST of the pickled
# loader, computed ONCE on the driver and captured in the UDF closure:
# - not (module, qualname): two lambdas in the same scope (the documented
#   usage) share '<lambda>' and would collide, handing the KenLM call the
#   cached fastText object;
# - not id(loader): cloudpickle deserializes a FRESH function object per
#   task, so id() misses on every task — the multi-GB model would reload
#   per task and every stale copy would pin in the cache.
# Identical pickled bytes => identical loader behavior, so sharing the
# model across such loaders is correct by construction.
_PROCESS_MODEL_CACHE: dict[str, object] = {}


def _loader_key(loader) -> str | None:
    if loader is None:
        return None
    import hashlib

    try:
        from pyspark import cloudpickle

        blob = cloudpickle.dumps(loader)
    except Exception:
        import pickle

        blob = pickle.dumps(loader)
    return hashlib.sha256(blob).hexdigest()


def _cached_model(key: str, loader):
    if key not in _PROCESS_MODEL_CACHE:
        _PROCESS_MODEL_CACHE[key] = loader()
    return _PROCESS_MODEL_CACHE[key]


def scoring_udf(lang_model_loader=None, ppl_model_loader=None):
    """Build the fused scoring UDF, optionally with REAL models.

    The loaders are zero-arg picklable callables executed ONCE per python
    worker process (cached) — the standard way to ship native models to
    executors (`spark.sparkContext.addFile(model_path)` then load from
    `SparkFiles.get(...)` inside the loader). Expected interfaces:

    - ``lang_model_loader()`` -> fastText-shaped object:
      ``model.predict(text)`` returns ``(("__label__xx", ...), (prob, ...))``
      (fastText rejects newlines, so the batch feeds it newline-flattened
      text).
    - ``ppl_model_loader()`` -> KenLM-shaped object:
      ``model.perplexity(text)`` returns a float.

    THE one-line swap on a cluster::

        cfg = PipelineConfig(
            lang_model_loader=lambda: fasttext.load_model(SparkFiles.get("lid.176.bin")),
            ppl_model_loader=lambda: kenlm.Model(SparkFiles.get("en.binary")),
        )
        run_pipeline(pages, cfg)

    Model outputs override the embedded stand-ins' lang/lang_conf/ppl
    fields; every other metric still comes from the fused pass. Executable
    proof (fake models with the production interfaces) in
    tests/test_model_seam.py.
    """
    if lang_model_loader is None and ppl_model_loader is None:
        return F.pandas_udf(_score_batch, returnType=SCORE_SCHEMA)

    keys = (_loader_key(lang_model_loader), _loader_key(ppl_model_loader))

    def score(texts: pd.Series) -> pd.DataFrame:
        df = _score_batch(texts)
        _apply_models(df, texts, lang_model_loader, ppl_model_loader, keys)
        return df

    return F.pandas_udf(score, returnType=SCORE_SCHEMA)


def _apply_models(df, texts: pd.Series, lang_model_loader, ppl_model_loader, keys):
    """Override lang/lang_conf/ppl in a scored frame with real-model
    outputs for present (non-missing) rows. In-place. `keys` are the
    driver-computed content digests for the two loaders."""
    present = [
        i for i, t in enumerate(texts) if t is not None and not df["missing"].iat[i]
    ]
    if not present:
        return
    if lang_model_loader is not None:
        model = _cached_model(keys[0], lang_model_loader)
        labels, confs = [], []
        for i in present:
            lab, prob = model.predict(texts.iat[i].replace("\n", " "))
            labels.append(lab[0].removeprefix("__label__"))
            confs.append(float(prob[0]))
        df.loc[present, "lang"] = labels
        df.loc[present, "lang_conf"] = confs
    if ppl_model_loader is not None:
        model = _cached_model(keys[1], ppl_model_loader)
        df.loc[present, "ppl"] = [
            float(model.perplexity(texts.iat[i])) for i in present
        ]


lang_ppl_udf = scoring_udf()


# fused scrub+score: ONE Arrow round-trip instead of two chained pandas
# UDFs (scrub_udf then lang_ppl_udf over its output) — the document text
# otherwise crosses the JVM<->Python boundary twice per row. The metrics
# are the same full_metrics tuple _score_batch builds, composed in-process
# after the same _scrub_batch.
def fused_scrub_score_udf(
    lang_model_loader=None,
    ppl_model_loader=None,
    repetition: bool = False,
    line_shape: bool = False,
    entropy: bool = False,
):
    """raw text -> struct(scrubbed_text, <all SCORE_SCHEMA metrics>[,
    dup_line_char_frac, dup_5gram_frac when repetition][,
    bullet_line_frac, ellipsis_line_frac, alpha_word_frac when
    line_shape][, token_entropy when entropy])."""
    from ..semantics import (
        dup_5gram_frac,
        dup_line_char_frac,
        line_shape_fracs,
        token_entropy_stats,
    )
    from .scrubbing import _scrub_batch

    # the enabled gate families' fields and per-text fns — both empty when
    # every gate is off, so every gate combination shares one batch fn
    fields: list = []
    fns = []
    if repetition:
        fields += _REPETITION_FIELDS
        fns.append(lambda t: (dup_line_char_frac(t), dup_5gram_frac(t)))
    if line_shape:
        fields += _LINE_FIELDS
        fns.append(line_shape_fracs)
    if entropy:
        fields += _ENTROPY_FIELDS
        fns.append(
            lambda t: ((lambda h: 0.0 if h is None else h)(token_entropy_stats(t)[2]),)
        )

    def extras(t):
        out: tuple = ()
        for fn in fns:
            out += tuple(fn(t))
        return out

    keys = (_loader_key(lang_model_loader), _loader_key(ppl_model_loader))
    cols = _COLS + [n for n, _ in fields]
    null_row = _NULL_SCORE + tuple(0.0 for _ in fields)
    schema = StructType(
        [StructField("scrubbed_text", StringType())]
        + [StructField(n, t) for n, t in _FIELDS + fields]
    )

    def batch(texts: pd.Series) -> pd.DataFrame:
        scrubbed = _scrub_batch(texts)
        df = pd.DataFrame(
            [null_row if t is None else full_metrics(t) + extras(t) for t in scrubbed],
            columns=cols,
        )
        if lang_model_loader is not None or ppl_model_loader is not None:
            _apply_models(df, scrubbed, lang_model_loader, ppl_model_loader, keys)
        df.insert(0, "scrubbed_text", scrubbed)
        return df

    return F.pandas_udf(batch, returnType=schema)
