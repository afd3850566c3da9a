"""Seeded input generators for the three workloads.

Every input is a pure function of ``--seed``: the same seed writes
byte-identical files. The generators read nothing but ``profile.json``
(corpus statistics derived once from the star-schema test data by
``derive_profile.py``) and each returns the input properties recorded
in the run's result.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PROFILE = json.loads(Path(__file__).with_name("profile.json").read_text())

# refjobs sizes, balanced so that no single job dominates a pass
NCDC_LINES = 300_000
EMPLOYEES = 200_000
DEPTS = 200
HOT_DEPT_SHARE = 0.3
USERS = 1_500
CITIES = 150
MAX_CARS = 60
BIG_CITY_CARS = 120  # every tenth city has more cars than the top-100 cut
MALFORMED_SHARE = 0.01
TEXT_FILES = 4  # per input, so the scans run in parallel
NEWCAR_DT = "2024-06-01"

# corpus size. The duplicate shares, word mix, lengths and embedding
# scales come from profile.json; the registry's dedup_increment slices
# its corpus into seven generations, and so does ingest (day 0 seeds
# the index, then one generation file a day).
DOCS = 1_000
VECTORS = round(DOCS * PROFILE["vectors_per_doc"])
DAY_DOCS = DOCS // 7
COMPACT_EVERY = 2  # K: compact the index after every K-th day
# The hot shingle: a boilerplate passage injected into a fixed share of
# docs, the skew that direction 5 targets. The test data has none
# (profile boilerplate_share), so its share is a stress setting.
HOT_SHINGLE_SHARE = 0.3
BOILERPLATE = "all rights reserved reproduced with permission of the copyright holder"


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent deterministic stream per (seed, input)."""
    return np.random.default_rng([seed, *stream.encode()])


def _write_lines(path: Path, lines: list[str], files: int = TEXT_FILES) -> int:
    """Split ``lines`` over ``files`` part files (no trailing newline, so
    every line the reader sees is a line the oracle sees); returns bytes."""
    path.mkdir(parents=True, exist_ok=True)
    step = -(-len(lines) // files)
    total = 0
    for i in range(files):
        data = "\n".join(lines[i * step : (i + 1) * step]).encode()
        (path / f"part-{i:05d}.txt").write_bytes(data)
        total += len(data)
    return total


def _malform(rng: np.random.Generator, lines: list[str], kinds: list) -> int:
    """Replace a MALFORMED_SHARE of ``lines`` in place, cycling through
    the ``kinds`` rewrites; returns how many were replaced."""
    idx = rng.choice(len(lines), int(len(lines) * MALFORMED_SHARE), replace=False)
    for j, i in enumerate(sorted(idx)):
        lines[i] = kinds[j % len(kinds)](lines[i])
    return len(idx)


def _ncdc(rng: np.random.Generator) -> list[str]:
    years = rng.integers(1901, 2001, NCDC_LINES)
    temps = rng.integers(-400, 401, NCDC_LINES)
    stations = rng.integers(0, 1_000_000, NCDC_LINES)
    days = rng.integers(101, 1229, NCDC_LINES)
    # year at [15,19) and signed temperature at [87,92), as the record layout has it
    return [
        f"0029{s:06d}99999{y}{d:04d}1200+51317+028783FM-12+017199999V020"
        f"3201N00671220001CN9999999N99{t:+05d}1+99999"
        for s, y, d, t in zip(stations.tolist(), years.tolist(), days.tolist(), temps.tolist())
    ]


def refjobs(root: Path, seed: int) -> dict:
    """NCDC fixed-width lines, employee/dept TSV and the \\x01+JSON
    profile and city-car files, each with a share of malformed rows."""
    rng = _rng(seed, "refjobs")
    nbytes = 0
    ncdc = _ncdc(rng)
    bad = _malform(rng, ncdc, [lambda s: s[:60], lambda s: s[:88] + "X1" + s[90:], lambda s: ""])
    nbytes += _write_lines(root / "ncdc", ncdc)

    hot = rng.random(EMPLOYEES) < HOT_DEPT_SHARE
    dept_of = np.where(hot, 0, rng.integers(1, DEPTS + 20, EMPLOYEES))  # some depts unknown
    salary = rng.integers(1_000, 200_000, EMPLOYEES)
    emp = [f"emp{i}\t{s}\t{d}" for i, (s, d) in enumerate(zip(salary.tolist(), dept_of.tolist()))]
    bad += _malform(
        rng, emp,
        [lambda s: s + "\textra", lambda s: s.split("\t")[0], lambda s: s.replace("\t", "\tx", 1),
         lambda s: s.rsplit("\t", 1)[0] + "\tdept?"],
    )
    nbytes += _write_lines(root / "employee", emp)
    dept = [f"{d}\tdept-{d}" for d in range(DEPTS)] + ["bad-row", "7\tdup\tname"]
    nbytes += _write_lines(root / "dept", dept, files=1)

    profiles = []
    for u in range(USERS):
        n = int(rng.integers(1, 4))
        cities = rng.choice(CITIES, n, replace=False).tolist()
        cityid = "$".join(f"c{c}@{rng.random():.2f}" for c in cities)
        price = "unknown" if rng.random() < 0.01 else f"{int(rng.integers(5, 60)) * 1000}"
        profiles.append(
            f'u{u}\x01{{"bycar_profile": {{"cityid": "{cityid}", "priceid": "{price}"}}}}'
        )
    bad += _malform(rng, profiles, [lambda s: s.replace("\x01", " "), lambda s: s[:-3]])
    nbytes += _write_lines(root / "profiles", profiles)

    def cars(tag: str) -> list[str]:
        lines = []
        for c in range(CITIES):
            # 1-car and one-price cities make degenerate groups (NaN scores)
            n = 1 if c % 37 == 0 else int(rng.integers(2, BIG_CITY_CARS if c % 10 == 1 else MAX_CARS))
            prices = rng.integers(5, 60, n) * 1000 if c % 41 else np.full(n, 20_000)
            lst = ",".join(f"{tag}{c}x{i}@{p:.1f}" for i, p in enumerate(prices.tolist()))
            lines.append(f'c{c}\x01{{"infoidlist": "{lst}"}}')
        lines.append("no-separator-line")
        return lines

    nbytes += _write_lines(root / "hotcar", cars("h"), files=2)
    nbytes += _write_lines(root / "newcar" / f"dt={NEWCAR_DT}", cars("n"), files=2)
    nbytes += _write_lines(root / "newcar" / "dt=2024-05-31", cars("o"), files=1)
    # lines one pass reads: the profiles feed both recommendation jobs
    rows = NCDC_LINES + EMPLOYEES + len(dept) + 2 * USERS + 2 * (CITIES + 1)
    return {"rows": rows, "bytes": nbytes, "malformed_rows": bad,
            "malformed_share": round(bad / rows, 6), "hot_dept_share": HOT_DEPT_SHARE}


class Corpus:
    """Seeded documents in the test data's vocabulary: fresh docs drawn
    from the profile's word mix and length range, exact and near copies
    of earlier docs, and a boilerplate passage (a hot shingle) injected
    into a fixed share of docs."""

    def __init__(self, seed: int, stream: str):
        self.rng = _rng(seed, stream)
        w = np.array(PROFILE["vocab_weights"], dtype=np.float64)
        self.p = w / w.sum()
        lw = np.array(PROFILE["lang_weights"], dtype=np.float64)
        self.lang_p = lw / lw.sum()
        self.texts: list[str] = []

    def fresh(self) -> str:
        lo, hi = PROFILE["doc_tokens"]
        n = int(self.rng.integers(lo, hi + 1))
        toks = self.rng.choice(PROFILE["vocab"], n, p=self.p).tolist()
        if self.rng.random() < HOT_SHINGLE_SHARE:
            at = int(self.rng.integers(0, n + 1))
            toks[at:at] = BOILERPLATE.split()
        return " ".join(toks)

    def near(self, text: str) -> str:
        """A near copy. The test data's near copies differ from their
        original by profile ``near_dup_token_diff`` tokens (one) at the
        end: one appended or dropped."""
        toks = text.split()
        for _ in range(PROFILE["near_dup_token_diff"]):
            if self.rng.random() < 0.5:
                toks.append(str(self.rng.choice(PROFILE["vocab"], p=self.p)))
            else:
                toks.pop()
        return " ".join(toks)

    def draw(self) -> str:
        """Next text: an exact copy of an earlier one, a near copy, or a
        fresh doc, at the profile's duplicate shares."""
        u = self.rng.random()
        base = self.texts
        exact = PROFILE["exact_dup_share"]
        if base and u < exact:
            t = base[int(self.rng.integers(0, len(base)))]
        elif base and u < exact + PROFILE["near_dup_share"]:
            t = self.near(base[int(self.rng.integers(0, len(base)))])
        else:
            t = self.fresh()
        self.texts.append(t)
        return t

    def table(self, ids: range, texts: list[str]) -> pa.Table:
        langs = self.rng.choice(PROFILE["langs"], len(texts), p=self.lang_p).tolist()
        src = self.rng.integers(0, PROFILE["n_sources"], len(texts)).tolist()
        return pa.table({
            "doc_id": pa.array(list(ids), pa.int64()),
            "text": texts,
            "lang": langs,
            "source": [f"src{s}" for s in src],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        })


def _write_parquet(table: pa.Table, path: Path) -> int:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path)
    return path.stat().st_size


def dup_properties() -> dict:
    return {"dup_share": round(PROFILE["exact_dup_share"] + PROFILE["near_dup_share"], 6),
            "exact_dup_share": PROFILE["exact_dup_share"], "hot_shingle_share": HOT_SHINGLE_SHARE}


def curation(root: Path, seed: int) -> dict:
    """A corpus dir with the test data's ``documents`` and ``embeddings``
    schemas: exact and near copies, embeddings clustered at the test
    data's scales, and the hot boilerplate shingle."""
    c = Corpus(seed, "curation")
    texts = [c.draw() for _ in range(DOCS)]
    nbytes = _write_parquet(c.table(range(DOCS), texts), root / "documents.parquet")

    rng = _rng(seed, "embeddings")
    dim, k, sd = PROFILE["dim"], PROFILE["n_labels"], PROFILE["within_std"]
    cents = rng.normal(0.0, PROFILE["centroid_std"], (k, dim))
    labels = rng.integers(0, k, VECTORS)
    vecs = cents[labels] + rng.normal(0.0, sd, (VECTORS, dim))
    dup = rng.random(VECTORS) < PROFILE["vector_near_dup_share"]
    src = rng.integers(0, VECTORS, VECTORS)
    vecs[dup] = vecs[src[dup]] + rng.normal(0.0, sd / 50, (int(dup.sum()), dim))
    emb = pa.table({
        "vec_id": pa.array(range(VECTORS), pa.int64()),
        "embedding": pa.array(vecs.astype(np.float32).tolist(), pa.list_(pa.float32())),
        "label": pa.array(labels.tolist(), pa.int32()),
    })
    nbytes += _write_parquet(emb, root / "embeddings.parquet")
    return {"rows": DOCS + VECTORS, "bytes": nbytes, "docs": DOCS, "vectors": VECTORS,
            "clusters": k, **dup_properties()}


INGEST_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("n_chars", pa.int64())])


class IngestFeed:
    """Day 0 (the index seed) and then one generation file per day, each
    of DAY_DOCS docs drawn like the curation corpus, so a day holds
    exact and near copies of earlier days' docs and of its own; days
    are generated in order, on demand."""

    def __init__(self, seed: int):
        self.corpus = Corpus(seed, "ingest")
        self.next_id = 0
        self.days: list[pa.Table] = []

    def day(self) -> pa.Table:
        texts = [self.corpus.draw() for _ in range(DAY_DOCS)]
        ids = range(self.next_id, self.next_id + DAY_DOCS)
        self.next_id += DAY_DOCS
        t = self.corpus.table(ids, texts).select(INGEST_SCHEMA.names).cast(INGEST_SCHEMA)
        self.days.append(t)
        return t

    def properties(self) -> dict:
        return {"rows": sum(t.num_rows for t in self.days), "day_docs": DAY_DOCS,
                "days": len(self.days) - 1, "compact_every": COMPACT_EVERY, **dup_properties()}


def land(table: pa.Table, stage: Path, dst: Path) -> int:
    """Write ``table`` beside the drop dir, then rename it in: the stream
    never sees a half-written file. Returns the file's bytes."""
    stage.mkdir(parents=True, exist_ok=True)
    tmp = stage / dst.name
    pq.write_table(table, tmp)
    os.replace(tmp, dst)
    return dst.stat().st_size
