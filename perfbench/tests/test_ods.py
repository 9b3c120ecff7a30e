"""The seeded ODS generator: deterministic, bounded disorder, Zipf keys and
one answer for last-write-wins."""

from __future__ import annotations

import json
from collections import Counter

from perfbench.ods import MAX_DISORDER_MS, OdsGenerator


def _ticks(seed: int):
    return OdsGenerator(seed).files(20, 50, 10, 1_700_000_000_000, 1000)


def test_same_seed_same_files_other_seed_other_files():
    a, b, c = _ticks(3), _ticks(3), _ticks(4)
    assert [(x.body, y.body) for x, y in a] == [(x.body, y.body) for x, y in b]
    assert [x.body for x, _ in a] != [x.body for x, _ in c]


def test_disorder_stays_inside_the_watermark():
    for log, db in _ticks(5):
        for line in log.body.splitlines():
            assert 0 <= log.due_ms - json.loads(line)["ts"] < MAX_DISORDER_MS < 5000
        assert db.records == len(db.body.splitlines())


def test_cdc_ts_strictly_increases_per_key_and_keys_are_skewed():
    last, keys, kinds = {}, Counter(), Counter()
    for _, db in _ticks(6):
        for line in db.body.splitlines():
            r = json.loads(line)
            k = (r["table"], r["data"]["id"])
            assert r["ts"] > last.get(k, -1)
            last[k] = r["ts"]
            kinds[r["type"]] += 1
            keys[k] += 1
    assert set(kinds) == {"insert", "update", "delete"}
    top = keys.most_common(1)[0][1]
    assert top > 3 * (sum(keys.values()) / len(keys))
