"""Seeded benchmark inputs and their single-threaded golden outputs.

Pages come from ``fixtures.page(i)`` over an id window that the seed picks.
Windows start on a multiple of 100 ids: ``page`` assigns the family by
``i % 20`` and the oversized size by ``(i // 20) % 5``, so every window of
the same length holds the same family mix and the same oversized sizes, and
seeds vary only the page contents.

The parquet is cached under the work directory, keyed on a content
signature of generated pages (never on a row count alone), so a fixture
change can never be benchmarked against stale data. The golden digests are
cached next to it, keyed also on a hash of the extractor's source.
"""

from __future__ import annotations

import hashlib
import json
import pathlib
import shutil
from dataclasses import dataclass

#: Oversized pages are capped like ``bench.py`` and the golden set: 1-2 MB.
OVERSIZE_MAX = 2_000_000
#: Files per input table; the program sees only the parquet directory.
N_FILES = 8
ROW_GROUP_ROWS = 64
#: Ids ``page`` assigns to the small families: synthetic-simple (12-16),
#: empty/invalid guards (17) and tiny (18).
SMALL_FAMILIES = frozenset(range(12, 19))


@dataclass(frozen=True)
class Window:
    """Which fixture ids a workload reads: ``[start, start + n_ids)``,
    optionally filtered to the small families."""

    start: int
    n_ids: int
    small_only: bool

    def ids(self) -> list[int]:
        ids = range(self.start, self.start + self.n_ids)
        if self.small_only:
            return [i for i in ids if i % 20 in SMALL_FAMILIES]
        return list(ids)


def window_for(seed: int, n_ids: int, small_only: bool) -> Window:
    # 10^4 disjoint windows (n_ids <= 10^4), clear of the golden ids
    return Window(100_000 + 10_000 * (seed % 10_000), n_ids, small_only)


def source_digest(root: pathlib.Path, rel_paths: list[str]) -> str:
    """Digest of source files; a directory stands for its ``*.py`` files."""
    h = hashlib.sha256()
    for rel in rel_paths:
        path = root / rel
        for p in sorted(path.glob("*.py")) if path.is_dir() else [path]:
            h.update(p.name.encode())
            h.update(p.read_bytes())
    return h.hexdigest()[:16]


def extractor_digest(root: pathlib.Path) -> str:
    """Hash of every source file the golden extractor's output depends on."""
    pkg = "cpp_paddle_ocr_spark"
    return source_digest(
        root, [f"{pkg}/core", f"{pkg}/weights.py", f"{pkg}/config.py"]
    )


def content_signature(root: pathlib.Path, window: Window) -> str:
    """Digest of the window, the fixture generator's source and the pages
    generated for the first 20 ids of the window (one of each family)."""
    from cpp_paddle_ocr_spark.fixtures import page

    h = hashlib.sha256(repr(window).encode())
    h.update(source_digest(root, ["cpp_paddle_ocr_spark/fixtures.py"]).encode())
    for i in range(window.start, window.start + 20):
        p = page(i, OVERSIZE_MAX)
        h.update(p["url"].encode())
        h.update(p["html"] or b"\0")
    return h.hexdigest()[:16]


def _write_parquet(rows: list[dict], out: pathlib.Path) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    table = pa.Table.from_pylist(rows, schema=schema)
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    per_file = -(-len(rows) // N_FILES)
    files = []
    for k in range(N_FILES):
        part = table.slice(k * per_file, per_file)
        if part.num_rows == 0:
            continue
        path = tmp / f"part-{k:03d}.parquet"
        pq.write_table(part, path, row_group_size=ROW_GROUP_ROWS)
        files.append(
            {
                "file": path.name,
                "rows": part.num_rows,
                "row_groups": pq.ParquetFile(path).num_row_groups,
                "bytes": path.stat().st_size,
            }
        )
    layout = {
        "files": files,
        "html_bytes": sum(len(r["html"] or b"") for r in rows),
    }
    (tmp / "_layout.json").write_text(json.dumps(layout))
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)


def golden_digests(urls: list[str], htmls: list[bytes | None]) -> dict:
    """url -> [sha256(extracted_text), success, n_blocks, error] from the
    single-threaded golden extractor."""
    from cpp_paddle_ocr_spark.core.pipeline import extract_batch

    out = extract_batch(urls, htmls)
    return {
        r.url: [
            hashlib.sha256(r.extracted_text.encode("utf-8")).hexdigest(),
            bool(r.success),
            int(r.n_blocks),
            r.error,
        ]
        for r in out.itertuples(index=False)
    }


@dataclass(frozen=True)
class Inputs:
    window: Window
    path: pathlib.Path  # parquet directory handed to the program
    n_pages: int
    layout: dict
    golden: dict  # url -> [digest, success, n_blocks, error]


def load_pages(window: Window) -> list[dict]:
    from cpp_paddle_ocr_spark.fixtures import page

    return [page(i, OVERSIZE_MAX) for i in window.ids()]


def ensure_inputs(work: pathlib.Path, root: pathlib.Path, window: Window) -> Inputs:
    """Generate (or reuse) the parquet and golden digests for ``window``."""
    sig = content_signature(root, window)
    path = work / "inputs" / f"w{window.start}_n{window.n_ids}_{sig}"
    golden_file = path / f"_golden_{extractor_digest(root)}.json"
    pages = None
    if not (path / "_layout.json").exists():
        pages = load_pages(window)
        _write_parquet(pages, path)
    if not golden_file.exists():
        pages = pages or load_pages(window)
        golden = golden_digests([p["url"] for p in pages], [p["html"] for p in pages])
        golden_file.write_text(json.dumps(golden))
    layout = json.loads((path / "_layout.json").read_text())
    golden = json.loads(golden_file.read_text())
    return Inputs(window, path, len(golden), layout, golden)


# --- curate tables ----------------------------------------------------------

#: Rows of the generated documents table: the size of the sf0.001 one
#: (TESTDATA.md).
DOCUMENT_ROWS = 500
#: Words of the sf tables' documents; ``dup`` marks repeated phrasing.
WORDS = (
    "a the row key agg scan slow fast table value part hash merge batch "
    "spark line sort window data column join small customer query order "
    "stream group filter big vector dup"
).split()
LANGS = ("en", "en", "en", "zh", "de", "es", "fr")


def _documents(rng):
    import pyarrow as pa

    n = DOCUMENT_ROWS
    texts = [
        " ".join(rng.choice(WORDS, size=int(rng.integers(8, 90))))
        for _ in range(n)
    ]
    # a few exact duplicates, as in the sf tables
    for i in rng.choice(n, size=max(1, n // 100), replace=False):
        texts[i] = texts[(i + 1) % n]
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": texts,
            "lang": [LANGS[k] for k in rng.integers(0, len(LANGS), n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def ensure_tables(work: pathlib.Path, root: pathlib.Path, seed: int) -> pathlib.Path:
    """A seeded ``documents`` table with the sf tables' schema, in one
    parquet file; returns its directory. Keyed on the seed and this
    generator's source."""
    import numpy as np
    import pyarrow.parquet as pq

    sig = source_digest(root, ["perfbench/inputs.py"])
    path = work / "tables" / f"seed{seed}_{sig}"
    if (path / "_done").exists():
        return path
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    rng = np.random.default_rng(seed)
    pq.write_table(_documents(rng), path / "documents.parquet")
    (path / "_done").write_text("")
    return path
