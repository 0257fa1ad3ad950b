"""The generator's returned counts against an independent read of the
files it wrote: gunzip, ``json.loads`` per line, count."""

import gzip
import json
import os
from collections import Counter
from datetime import datetime

from gharchive import EVENT_TYPES, GhArchiveGen, dedup_key


def _well_formed(ev) -> bool:
    return (isinstance(ev, dict) and ev.get("type") in EVENT_TYPES
            and all(isinstance(ev.get(k), dict) for k in ("actor", "repo", "payload"))
            and isinstance(ev.get("created_at"), str))


def _read(path):
    with gzip.open(path, "rt", encoding="utf-8") as f:
        return [line.rstrip("\n") for line in f]


def test_counts_match_an_independent_read(tmp_path):
    gen = GhArchiveGen(seed=7, events_per_file=400)
    for index in range(3):
        truth = gen.write_file(str(tmp_path), index)
        lines = _read(os.path.join(tmp_path, truth.rel_path))
        events = [json.loads(line) for line in lines]  # every line is valid JSON
        good = [e for e in events if _well_formed(e)]
        assert len(lines) == truth.lines
        assert len(events) - len(good) == truth.corrupt == 3
        assert Counter(e["type"] for e in good) == truth.type_counts
        assert len(good) == truth.valid == 400 + truth.duplicates
        assert set(Counter(e["type"] for e in good)) == set(EVENT_TYPES)
        seen, dups = set(), 0
        for line, ev in zip(lines, events):
            if _well_formed(ev):
                dups += line in seen
                seen.add(line)
        assert dups == truth.duplicates == 8
        hour = gen.hour(index)
        late = {e["id"] for e in good if e["created_at"][:7] != f"{hour:%Y-%m}"}
        assert len(late) == truth.late == 2
        for e in good:
            if e["id"] not in late:
                t = datetime.strptime(e["created_at"], "%Y-%m-%dT%H:%M:%SZ")
                assert (t.date(), t.hour) == (hour.date(), hour.hour)
        assert len({dedup_key(e) for e in good}) == len({r.key for r in truth.rows})
        assert truth.gz_bytes == os.path.getsize(os.path.join(tmp_path, truth.rel_path))
        assert truth.raw_bytes == sum(len(line.encode()) + 1 for line in lines)
        first = {}
        for line, ev in zip(lines, events):
            if _well_formed(ev):
                first.setdefault(line, ev["type"])
        sizes = Counter()
        for line, t in first.items():
            sizes[t] += len(line) + 1
        assert sizes == truth.type_bytes


def test_same_seed_same_bytes(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    ta = GhArchiveGen(seed=3, events_per_file=50).write_file(str(a), 5)
    tb = GhArchiveGen(seed=3, events_per_file=50).write_file(str(b), 5)
    tc = GhArchiveGen(seed=4, events_per_file=50).write_file(str(tmp_path / "c"), 5)
    assert (a / ta.rel_path).read_bytes() == (b / tb.rel_path).read_bytes()
    assert (a / ta.rel_path).read_bytes() != (tmp_path / "c" / tc.rel_path).read_bytes()


def test_file_names_follow_gharchive():
    gen = GhArchiveGen(seed=0)
    assert gen.rel_path(0) == "2024/03/01/2024-03-01-0.json.gz"
    assert gen.rel_path(25) == "2024/03/02/2024-03-02-1.json.gz"
