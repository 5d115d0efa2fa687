"""Seeded inputs, synthesized once per run in set-up and written to
Parquet so timed runs read them like a production table scan.

The page generator of ``deezymatch_spark.sources.pages`` is a pure
function of the row id, so the seed selects a window of row ids: the
same seed gives the same pages, and different seeds give disjoint
windows (different entity names, domains and edit patterns). The
program reads only the five ``input_hint`` columns; the truth columns
(``cluster_id``, ``title``) go to a separate file the benchmark keeps.
"""

from __future__ import annotations

import os
import random

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from deezymatch_spark.sources.pages import _row

VARIANTS = 4  # generator default: pages per entity
HOT_DOMAINS = 5
WINDOW = 1_000_000  # row ids per seed; any window size below this is disjoint

PAGE_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])


def page_rows(seed: int, start: int, n: int) -> pd.DataFrame:
    """Rows ``start .. start+n`` of the seed's window, with truth."""
    base = (seed % 10_000 + 1) * WINDOW + start
    rows = [_row(i, VARIANTS, HOT_DOMAINS) for i in range(base, base + n)]
    df = pd.DataFrame(
        rows, columns=["url", "warc_ts", "html", "text", "lang", "cluster_id", "title"]
    )
    df["warc_ts"] = pd.to_datetime(df["warc_ts"], unit="s").astype("datetime64[us]")
    return df


def write_pages(df: pd.DataFrame, path: str, files: int) -> None:
    """Write the five input columns as ``files`` Parquet files (a scan
    gets one split per file, like a table of many data files)."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(df[PAGE_SCHEMA.names], schema=PAGE_SCHEMA, preserve_index=False)
    step = -(-len(df) // files)
    for k in range(files):
        part = table.slice(k * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{k:05d}.parquet"))


def write_frame(df: pd.DataFrame, path: str, files: int) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-len(df) // files)
    for k in range(files):
        part = df.iloc[k * step:(k + 1) * step]
        if len(part):
            part.to_parquet(os.path.join(path, f"part-{k:05d}.parquet"), index=False)


def labeled_pairs(pages: pd.DataFrame, seed: int) -> pd.DataFrame:
    """Title pairs, about half true matches: each page paired with the
    next variant of its own entity (match) and with a page of another
    entity drawn by a seeded RNG (non-match)."""
    rng = random.Random(seed)
    titles = pages["title"].tolist()
    cids = pages["cluster_id"].tolist()
    n = len(titles)
    rows = []
    for i in range(n):
        j = i + 1 if (i + 1) % VARIANTS else i - (VARIANTS - 1)
        rows.append((titles[i], titles[j], True))
        k = rng.randrange(n)
        while cids[k] == cids[i]:
            k = rng.randrange(n)
        rows.append((titles[i], titles[k], False))
    return pd.DataFrame(rows, columns=["s1", "s2", "label"])
