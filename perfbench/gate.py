"""Correctness gate: every output the benchmark times is checked here.

A check returns ``(attempted, failed, problems)``; the benchmark adds them
up into the result line and exits non-zero when anything failed.
"""

from __future__ import annotations

import collections
import decimal
import hashlib
import json
import math
import pathlib


class Tally:
    """Running attempted/failed counts plus the first few problems."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def add(self, attempted: int, failed: int, problems: list[str]) -> None:
        self.attempted += attempted
        self.failed += failed
        self.problems.extend(problems[: max(0, 20 - len(self.problems))])


def check_rows(rows, golden: dict) -> tuple[int, int, list[str]]:
    """Compare output rows ``(url, digest, success, n_blocks, error)`` with
    the golden ``url -> [digest, success, n_blocks, error]``.

    Each golden url is attempted once. It fails when its row is missing,
    duplicated or differs; a url the golden set does not hold is a failure
    of its own.
    """
    seen = collections.Counter(r[0] for r in rows)
    by_url = {r[0]: tuple(r[1:]) for r in rows}
    problems = []
    for url, want in golden.items():
        n = seen.get(url, 0)
        if n != 1:
            problems.append(f"{url}: {n} rows")
            continue
        digest, success, n_blocks, error = by_url[url]
        got = [digest, bool(success), int(n_blocks), error]
        if got != list(want):
            problems.append(f"{url}: got {got}, want {list(want)}")
    extra = [u for u in seen if u not in golden]
    problems += [f"{u}: not an input url" for u in extra]
    return len(golden), len(problems), problems


def sink_rows(df) -> list[tuple]:
    """Digest rows of an extract output DataFrame, computed by Spark."""
    from pyspark.sql import functions as F

    return [
        tuple(r)
        for r in df.select(
            "url",
            F.sha2(F.col("extracted_text"), 256),
            "success",
            "n_blocks",
            "error",
        ).collect()
    ]


def check_committed_golden(root: pathlib.Path, work: pathlib.Path) -> tuple[int, int, list[str]]:
    """The golden extractor must still reproduce the committed
    ``tests/golden/CHECKSUMS.tsv`` on every golden id. The verdict is
    cached under a digest of the extractor, fixture and TSV sources, so a
    run pays for it only after one of them changes."""
    from perfbench.inputs import extractor_digest, source_digest

    tsv = root / "tests" / "golden" / "CHECKSUMS.tsv"
    key = extractor_digest(root) + source_digest(
        root, ["cpp_paddle_ocr_spark/fixtures.py", "tests/golden/CHECKSUMS.tsv"]
    )
    cached = work / "golden_check" / f"{key}.json"
    if not cached.exists():
        verdict = _golden_verdict(tsv.read_text("utf-8").splitlines())
        cached.parent.mkdir(parents=True, exist_ok=True)
        cached.write_text(json.dumps(verdict))
    attempted, failed, problems = json.loads(cached.read_text())
    return attempted, failed, problems


def _golden_verdict(lines: list[str]) -> tuple[int, int, list[str]]:
    from cpp_paddle_ocr_spark.core.pipeline import extract_batch
    from cpp_paddle_ocr_spark.fixtures import page

    from perfbench.inputs import OVERSIZE_MAX

    want = {}
    for line in lines:
        url, digest, success, n_blocks = line.split("\t")
        want[url] = (digest, success == "1", int(n_blocks))
    # the golden set is ids [0, len(lines)), generated with the same cap
    pages = [page(i, OVERSIZE_MAX) for i in range(len(lines))]
    out = extract_batch([p["url"] for p in pages], [p["html"] for p in pages])
    got = {
        r.url: (
            hashlib.sha256(r.extracted_text.encode("utf-8")).hexdigest(),
            bool(r.success),
            int(r.n_blocks),
        )
        for r in out.itertuples(index=False)
    }
    problems = [
        f"golden {url}: got {got.get(url)}, want {w}"
        for url, w in want.items()
        if got.get(url) != w
    ]
    return len(want), len(problems), problems


def _norm(v) -> str:
    """A value as the oracle comparison sees it: floats to 6 decimals."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (float, decimal.Decimal)):
        return "NaN" if math.isnan(v) else f"{float(v):.6f}"
    return str(v)


def compare_frames(got, want) -> list[str]:
    """Order-insensitive comparison of two pandas frames: the same column
    names and the same multiset of rows. Returns the problems found."""
    cols = sorted(got.columns)
    if cols != sorted(want.columns):
        return [f"columns {cols} != {sorted(want.columns)}"]

    def rows(df):
        return sorted(
            tuple(_norm(v) for v in r) for r in df[cols].itertuples(index=False)
        )

    a, b = rows(got), rows(want)
    if len(a) != len(b):
        return [f"{len(a)} rows, oracle has {len(b)}"]
    diff = [i for i, (x, y) in enumerate(zip(a, b)) if x != y]
    return [f"row {i}: {a[i]} != oracle {b[i]}" for i in diff[:3]]
