"""The three keep/drop workloads: inputs made from a seed, the timed call
into the program, and the check of what the call wrote.

- pages_default: default run_pipeline over the fixture pages corpus, the
  contract columns written through TableIO. Checked row for row against
  oracle.run_oracle.
- near_dense: run_pipeline(dedup_near=True) over a corpus in which every
  doc is one of 8 near-identical copies of a distinct page. Checked by the
  planted-cluster invariant.
- resumable_buckets: lineage.run_resumable with 4 buckets over a smaller
  pages corpus. Checked against the oracle's per-reason counts and its set
  of kept content hashes (the cross-bucket keeper is first-seen, so which
  row of a duplicate group is kept may differ).

Sizes. AQE coalesces the exchange ahead of the scorer to about its total
size / cores per task, but to no less than 1 MB per task. At 16k pages
that leaves as many scorer tasks as cores on a 4-core host; at 10k the
floor cuts it to 3. The resumable buckets (1.25k pages each) and
near_dense (400 scored rows) run their scorer stage as one task: both
measure per-bucket and per-job overheads more than scorer throughput, and
a call costs about the same at twice their size.

Inputs and references are cached per (corpus, size, seed, program source):
the same seed always gives the same inputs.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from collections import Counter
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

PAGES_DOCS = 16_000  # base pages; the fixture adds ~3% re-crawl rows
RESUMABLE_DOCS = 5_000
NEAR_CLUSTERS = 400
NEAR_COPIES = 8
NEAR_MIN_WORDS = 50  # copies of a page this long stay at Jaccard >= 0.96
N_BUCKETS = 4
WARM_BUCKETS = 2
SETUP_DOCS = 256  # the small first job of set-up
KERNEL_DOCS = 400  # fixed in-process sample for the kernel timings
INPUT_FILES = 4
CONTRACT = ["url", "keep", "drop_reason", "scrubbed_text", "content_md5"]
_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def dir_bytes(path: str | Path) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total


def keep_f1(pred: Counter, ref: Counter) -> float:
    """F1 of the kept multiset `pred` against the reference kept multiset."""
    tp = sum((pred & ref).values())
    fp = sum(pred.values()) - tp
    fn = sum(ref.values()) - tp
    return 1.0 if tp + fp + fn == 0 else 2 * tp / (2 * tp + fp + fn)


def _source_digest(pkg: Path) -> str:
    """Digest of the program and of this file: a cached input or reference
    is reused only by the code that made it."""
    h = hashlib.sha256(Path(__file__).read_bytes())
    for p in sorted(pkg.rglob("*.py")):
        h.update(p.relative_to(pkg).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:12]


def _write_table(rows: list[dict], path: Path, files: int) -> None:
    path.mkdir(parents=True)
    step = -(-len(rows) // files)
    for i in range(files):
        chunk = rows[i * step : (i + 1) * step]
        table = pa.Table.from_pylist(
            [{k: r[k] for k in _SCHEMA.names} for r in chunk], schema=_SCHEMA
        )
        pq.write_table(table, path / f"part-{i:05d}.parquet")


def _pages_rows(seed: int, n: int) -> list[dict]:
    from dataqualitykit_spark.fixtures import generate_pages

    return generate_pages(n, seed)


def _near_rows(seed: int, clusters: int) -> list[dict]:
    """`clusters` distinct pages of at least NEAR_MIN_WORDS words, each
    copied NEAR_COPIES times. Copy k of a page differs only by a ' rep k'
    suffix and lives at '<url>/copy-<k>'. Pages whose text or first 20
    words repeat elsewhere (the fixture's exact- and near-dup classes) are
    left out, so the planted clusters are the only near-duplicates."""
    from dataqualitykit_spark.semantics import is_missing

    pool = _pages_rows(seed, clusters * 3)
    seen_url: set[str] = set()
    firsts = []
    for r in pool:
        if r["url"] in seen_url:
            continue
        seen_url.add(r["url"])
        if not is_missing(r["text"]) and len(r["text"].split()) >= NEAR_MIN_WORDS:
            firsts.append(r)
    texts = Counter(r["text"] for r in firsts)
    prefixes = Counter(" ".join(r["text"].split()[:20]) for r in firsts)
    base = [
        r
        for r in firsts
        if texts[r["text"]] == 1 and prefixes[" ".join(r["text"].split()[:20])] == 1
    ][:clusters]
    if len(base) < clusters:
        raise RuntimeError(f"seed {seed}: only {len(base)} distinct pages")
    return [
        dict(r, url=f"{r['url']}/copy-{k}", text=f"{r['text']} rep {k}")
        for r in base
        for k in range(NEAR_COPIES)
    ]


class Prepared:
    """Inputs of one workload and seed: a TableIO parquet root holding the
    tables `pages` (the corpus) and `setup` (the small first job)."""

    def __init__(self, root: Path, meta: dict, reference: dict) -> None:
        self.root = str(root)
        self.docs: int = meta["docs"]
        self.text_bytes: int = meta["text_bytes"]
        self.sample: list[str] = meta["sample"]
        self.reference = reference


class Workload:
    name = ""
    corpus = "pages"
    base_docs = PAGES_DOCS

    def rows(self, seed: int, scale: float) -> list[dict]:
        return _pages_rows(seed, max(1, int(self.base_docs * scale)))

    def reference(self, rows: list[dict]) -> dict:
        """Oracle labels: (url, keep, drop_reason, scrubbed_text, md5) rows."""
        from dataqualitykit_spark.oracle import run_oracle
        from dataqualitykit_spark.semantics import content_hash

        return {
            "rows": [
                [o.url, o.keep, o.drop_reason, o.scrubbed_text, content_hash(r["text"] or "")]
                for o, r in zip(run_oracle(rows), rows)
            ]
        }

    def prepare(self, cache: Path, pkg: Path, seed: int, scale: float) -> Prepared:
        key = f"{self.corpus}{self.base_docs}-x{scale:g}-s{seed}-{_source_digest(pkg)}"
        root = cache / key
        if not (root / "meta.json").exists():
            tmp = cache / f".{key}.{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            rows = self.rows(seed, scale)
            _write_table(rows, tmp / "pages", INPUT_FILES)
            _write_table(rows[:SETUP_DOCS], tmp / "setup", 1)
            texts = [r["text"] for r in rows if r["text"]]
            meta = {
                "docs": len(rows),
                "text_bytes": sum(len(t.encode("utf-8")) for t in texts),
                "sample": texts[:KERNEL_DOCS],
            }
            (tmp / "reference.json").write_text(json.dumps(self.reference(rows)))
            (tmp / "meta.json").write_text(json.dumps(meta))
            shutil.rmtree(root, ignore_errors=True)
            os.replace(tmp, root)
        meta = json.loads((root / "meta.json").read_text())
        ref = json.loads((root / "reference.json").read_text())
        return Prepared(root, meta, ref)

    # timed calls go on until --seconds have passed AND this many are done;
    # the reported median is over the first min_calls calls only. Per-call
    # time keeps falling over the first calls (JIT), so a median over a
    # varying number of calls would move with the count.
    min_calls = 1

    def call(self, spark, inp: Prepared, out: str) -> None:
        raise NotImplementedError

    def warm(self, spark, inp: Prepared, out: str) -> None:
        """Untimed call of the same plan shape before anything is timed. A
        full-size call: a smaller one runs fewer scorer tasks, so it starts
        fewer Python workers than a timed call needs."""
        self.call(spark, inp, out)

    def check(self, inp: Prepared, out: str) -> tuple[bool, float, str]:
        raise NotImplementedError


def _contract_rows(path: str) -> list[tuple]:
    t = pq.read_table(path, columns=CONTRACT).to_pydict()
    return list(zip(*(t[c] for c in CONTRACT)))


class PagesDefault(Workload):
    name = "pages_default"
    min_calls = 3

    def call(self, spark, inp, out):
        from dataqualitykit_spark import run_pipeline
        from dataqualitykit_spark.sources import TableIO

        labeled = run_pipeline(TableIO(spark, inp.root, fmt="parquet").read("pages"))
        TableIO(spark, out, fmt="parquet").write(labeled.select(*CONTRACT), "labeled")

    def check(self, inp, out):
        got = Counter(_contract_rows(os.path.join(out, "labeled")))
        want = Counter(tuple(r) for r in inp.reference["rows"])
        f1 = keep_f1(
            Counter((r[0], r[4]) for r in got.elements() if r[1]),
            Counter((r[0], r[4]) for r in want.elements() if r[1]),
        )
        bad = sum((got - want).values()) + sum((want - got).values())
        return bad == 0, f1, f"{bad} rows differ from the oracle"


class NearDense(Workload):
    name = "near_dense"
    corpus = "near"
    base_docs = NEAR_CLUSTERS * NEAR_COPIES
    min_calls = 3

    def rows(self, seed, scale):
        return _near_rows(seed, max(1, int(NEAR_CLUSTERS * scale)))

    def reference(self, rows):
        """Expected kept urls: the min-url copy of each planted cluster, when
        the oracle's per-document rules keep its text."""
        from dataqualitykit_spark import DEFAULT_CONFIG
        from dataqualitykit_spark.semantics import doc_reasons

        kept = [
            r["url"]
            for r in rows
            if r["url"].endswith("/copy-0") and not doc_reasons(r["text"], DEFAULT_CONFIG)[0]
        ]
        return {"kept_urls": kept}

    def call(self, spark, inp, out):
        from dataqualitykit_spark import PipelineConfig, run_pipeline
        from dataqualitykit_spark.sources import TableIO

        labeled = run_pipeline(
            TableIO(spark, inp.root, fmt="parquet").read("pages"),
            PipelineConfig(dedup_near=True),
        )
        TableIO(spark, out, fmt="parquet").write(labeled.select(*CONTRACT), "labeled")

    def check(self, inp, out):
        got = _contract_rows(os.path.join(out, "labeled"))
        kept = [r[0] for r in got if r[1]]
        per_cluster = Counter(u.rsplit("/copy-", 1)[0] for u in kept)
        over = sum(1 for n in per_cluster.values() if n > 1)
        f1 = keep_f1(Counter(kept), Counter(inp.reference["kept_urls"]))
        ok = len(got) == inp.docs and over == 0
        return ok, f1, f"{len(got)}/{inp.docs} rows out, {over} clusters keep >1"


class ResumableBuckets(Workload):
    name = "resumable_buckets"
    base_docs = RESUMABLE_DOCS

    def call(self, spark, inp, out, fail_after=None):
        from dataqualitykit_spark.lineage import run_resumable
        from dataqualitykit_spark.sources import TableIO

        source = TableIO(spark, inp.root, fmt="parquet").read("pages")
        run_resumable(spark, source, out, n_buckets=N_BUCKETS, fail_after=fail_after)

    def warm(self, spark, inp, out):
        """Bucketize plus two buckets, stopped by run_resumable's own
        fail_after hook: every plan shape of a full call (the second bucket
        adds the cross-bucket join) at about half its cost."""
        try:
            self.call(spark, inp, out, fail_after=WARM_BUCKETS)
        except RuntimeError as exc:
            if "injected failure" not in str(exc):
                raise

    def check(self, inp, out):
        """Kept content hashes equal the oracle's, and so do the per-reason
        counts per content hash, with one allowance. The cross-bucket join
        only sees hashes that earlier buckets KEPT, so content that the
        rules dropped is scored again in each later bucket holding a copy:
        there one copy carries the rule reason where the single-pass
        oracle says dup_content. That copy, at most one per hash and later
        bucket, is counted as dup_content; every other row is compared as
        written, so a within-bucket mislabel still fails."""
        t = pq.read_table(
            os.path.join(out, "labeled"),
            columns=["keep", "drop_reason", "content_md5", "bucket_id"],
        ).to_pydict()
        ref = inp.reference["rows"]
        want_kept = {r[4] for r in ref if r[1]}
        rule = {
            r[4]: r[2]
            for r in ref
            if r[2] not in (None, "dup_content", "dup_url", "missing_text")
        }
        rows = list(zip(t["content_md5"], t["drop_reason"], map(int, t["bucket_id"])))
        rescored: dict[str, list[int]] = {}
        for m, r, b in rows:
            if m not in want_kept and r is not None and r == rule.get(m):
                rescored.setdefault(m, []).append(b)
        first = {m: min(bs) for m, bs in rescored.items()}
        twice = sum(len(bs) - len(set(bs)) for bs in rescored.values())
        got = Counter(
            (m, "dup_content" if m in first and r == rule[m] and b > first[m] else r)
            for m, r, b in rows
        )
        want = Counter((r[4], r[2]) for r in ref)
        kept = {m for m, k in zip(t["content_md5"], t["keep"]) if k}
        f1 = keep_f1(Counter(kept), Counter(want_kept))
        bad = sum((got - want).values()) + sum((want - got).values()) + twice
        ok = len(rows) == inp.docs and bad == 0 and kept == want_kept
        return ok, f1, f"{len(rows)}/{inp.docs} rows, {bad} reasons differ"


WORKLOADS = {w.name: w for w in (PagesDefault(), NearDense(), ResumableBuckets())}

