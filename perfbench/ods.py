"""Seeded ODS generator: ``topic_log`` behaviour logs and ``topic_db``
Maxwell CDC envelopes, one JSON object per line (FIXTURES.md sections 1-2).

Every record of file ``i`` carries a time inside ``[due_i - MAX_DISORDER_MS,
due_i]``, so disorder stays below the pipelines' 5 s watermark and no row is
late. Device, user and dim keys are Zipf-distributed. CDC ``ts`` (seconds)
strictly increases per key so last-write-wins has exactly one answer.
"""

from __future__ import annotations

import bisect
import json
import random
from dataclasses import dataclass, field

MAX_DISORDER_MS = 3000
DIM_TABLES = {
    "user_info": ("id", "login_name", "name", "user_level", "phone_num"),
    "sku_info": ("id", "spu_id", "price", "sku_name", "tm_id"),
}
# Columns the DIM config keeps per table (``sink_columns``): phone_num and
# tm_id are pruned, as DimApp prunes by table_process_dim.
SINK_COLUMNS = {
    "user_info": "id,login_name,name,user_level",
    "sku_info": "id,spu_id,price,sku_name",
}
PAGES = ("home", "good_detail", "search", "cart", "login", "mine", "order", "payment")
CHANNELS = ("appstore", "xiaomi", "huawei", "oppo", "vivo", "web")
AREAS = ("110000", "310000", "440000", "330000", "510000")
VERSIONS = ("v2.1.134", "v2.1.132", "v2.0.1", "v2.1.111")


class Zipf:
    """Draws ranks 0..n-1 with P(k) proportional to 1/(k+1)**s."""

    def __init__(self, rng: random.Random, n: int, s: float = 1.1) -> None:
        weights = [1.0 / (k + 1) ** s for k in range(n)]
        total = sum(weights)
        acc, self.cdf = 0.0, []
        for w in weights:
            acc += w / total
            self.cdf.append(acc)
        self.rng = rng

    def draw(self) -> int:
        return min(bisect.bisect_left(self.cdf, self.rng.random()), len(self.cdf) - 1)


@dataclass
class OdsFile:
    """One rendered ODS file: its topic, body and the record count."""

    topic: str
    index: int
    due_ms: int
    body: str
    records: int


@dataclass
class OdsGenerator:
    seed: int
    devices: int = 400
    users: int = 300
    dim_keys: int = 20
    _rng: random.Random = field(init=False)

    def __post_init__(self) -> None:
        self._rng = random.Random(self.seed)
        self._mid = Zipf(self._rng, self.devices)
        self._uid = Zipf(self._rng, self.users)
        self._dim = {t: Zipf(self._rng, self.dim_keys, 1.2) for t in DIM_TABLES}
        self._live: dict[str, set[int]] = {t: set() for t in DIM_TABLES}
        self._last_ts: dict[tuple[str, int], int] = {}

    # -- topic_log --------------------------------------------------------
    def log_record(self, ts_ms: int) -> dict:
        r = self._rng
        mid = self._mid.draw()
        common = {
            "mid": f"mid_{mid}",
            "uid": None if r.random() < 0.2 else str(self._uid.draw()),
            "vc": VERSIONS[mid % len(VERSIONS)],
            "ch": CHANNELS[mid % len(CHANNELS)],
            "ar": AREAS[mid % len(AREAS)],
            "is_new": "1" if r.random() < 0.3 else "0",
        }
        rec: dict = {"common": common, "ts": ts_ms}
        if r.random() < 0.1:
            rec["start"] = {"entry": r.choice(("icon", "notice", "install")),
                            "open_ad_id": str(r.randrange(20))}
        else:
            page_id = PAGES[min(int(r.expovariate(0.6)), len(PAGES) - 1)]
            rec["page"] = {
                "page_id": page_id,
                "last_page_id": None if r.random() < 0.25 else r.choice(PAGES),
                "item": f"kw_{r.randrange(30)}" if page_id == "search" else None,
                "item_type": "keyword" if page_id == "search" else None,
                "during_time": r.randrange(1000, 30000),
            }
            if r.random() < 0.4:
                rec["displays"] = [
                    {"item": str(r.randrange(500)), "item_type": "sku_id",
                     "pos_id": str(r.randrange(5))}
                    for _ in range(r.randrange(1, 4))
                ]
            if r.random() < 0.2:
                rec["actions"] = [
                    {"action_id": r.choice(("favor_add", "cart_add", "get_coupon")),
                     "item": str(r.randrange(500)), "item_type": "sku_id",
                     "ts": ts_ms - r.randrange(0, 500)}
                    for _ in range(r.randrange(1, 3))
                ]
        if r.random() < 0.05:
            rec["err"] = {"error_code": str(r.randrange(1000, 4000)), "msg": "oops"}
        return rec

    # -- topic_db ---------------------------------------------------------
    def _row(self, table: str, key: int) -> dict[str, str]:
        r = self._rng
        if table == "user_info":
            vals = (str(key), f"login_{key}", f"user_{key}_{r.randrange(100)}",
                    str(r.randrange(1, 6)), f"138{r.randrange(10**8):08d}")
        else:
            vals = (str(key), str(key % 40), f"{r.randrange(100, 99900) / 100:.2f}",
                    f"sku_{key}_{r.randrange(100)}", str(key % 12))
        return dict(zip(DIM_TABLES[table], vals))

    def db_record(self, ts_ms: int) -> dict:
        r = self._rng
        table = r.choice(tuple(DIM_TABLES))
        key = self._dim[table].draw()
        live = self._live[table]
        if key not in live:
            kind = "insert"
        else:
            kind = "delete" if r.random() < 0.2 else "update"
        data = self._row(table, key)
        rec = {"database": "gmall", "table": table, "type": kind, "data": data}
        if kind == "update":
            rec["old"] = {"name" if table == "user_info" else "price": "prev"}
        if kind == "delete":
            live.discard(key)
        else:
            live.add(key)
        # strictly increasing per key: the engine orders upserts by ts alone
        ts = max(ts_ms // 1000, self._last_ts.get((table, key), -1) + 1)
        self._last_ts[(table, key)] = ts
        rec["ts"] = ts
        return rec

    # -- files ------------------------------------------------------------
    def _jitter(self, due_ms: int) -> int:
        return due_ms - self._rng.randrange(MAX_DISORDER_MS)

    def files(self, n_files: int, log_per_file: int, db_per_file: int,
              t0_ms: int, tick_ms: int) -> list[tuple[OdsFile, OdsFile]]:
        """Render ``n_files`` ticks; tick ``i`` is due at ``t0_ms + i*tick_ms``
        and holds one topic_log and one topic_db file."""
        out = []
        for i in range(n_files):
            due = t0_ms + i * tick_ms
            logs = [self.log_record(self._jitter(due)) for _ in range(log_per_file)]
            dbs = [self.db_record(self._jitter(due)) for _ in range(db_per_file)]
            out.append(tuple(
                OdsFile(topic, i, due, "".join(json.dumps(r, separators=(",", ":")) + "\n"
                                               for r in recs), len(recs))
                for topic, recs in (("topic_log", logs), ("topic_db", dbs))
            ))
        return out
