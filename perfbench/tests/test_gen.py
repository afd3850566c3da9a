"""The generated inputs are a pure function of the seed."""

import hashlib
from pathlib import Path

import gen


def digest(root: Path) -> str:
    h = hashlib.sha256()
    for p in sorted(root.rglob("*")):
        if p.is_file():
            h.update(p.relative_to(root).as_posix().encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    for make in (gen.refjobs, gen.curation):
        a, b, c = (tmp_path / make.__name__ / x for x in "abc")
        pa, pb = make(a, 7), make(b, 7)
        make(c, 8)
        assert pa == pb
        assert digest(a) == digest(b) != digest(c)


def test_ingest_days_repeat_per_seed():
    def days(seed, n=4):
        feed = gen.IngestFeed(seed)
        return [feed.day() for _ in range(n + 1)]

    a, b, c = days(3), days(3), days(4)
    assert all(x.equals(y) for x, y in zip(a, b))
    assert not all(x.equals(y) for x, y in zip(a, c))
    ids = [i for t in a for i in t.column("doc_id").to_pylist()]
    assert ids == list(range(len(ids)))  # ids grow across days


def test_properties_recorded(tmp_path):
    props = gen.curation(tmp_path, 1)
    assert props["docs"] == gen.DOCS and props["hot_shingle_share"] == gen.HOT_SHINGLE_SHARE
    props = gen.refjobs(tmp_path / "r", 1)
    assert 0 < props["malformed_share"] < 2 * gen.MALFORMED_SHARE
