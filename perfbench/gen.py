"""Seeded event-log generator for the segmentation benchmark.

Writes the corpus ``events`` schema (event_id, ts, user_id, event_type,
value, props) plus a ``processing_time`` ingest cursor, one parquet file per
batch, so ``sources.catalog.load_table`` and the streaming file source read
the files unchanged.

Shape of the log:
- users are Zipf-skewed over ``users`` ids (a seeded permutation maps
  popularity rank to id, so ids carry no order);
- ``processing_time`` advances batch by batch; ``ts`` (event time) trails
  it by seconds, except for a ``late_share`` of events that trail by hours
  to days and so land behind events of earlier batches;
- a ``dup_share`` of each batch re-delivers an event already sent (same
  event_id, ts, user and type) with a later processing time.

The output is a pure function of the parameters: the same seed gives the
same bytes. Run ``python3 perfbench/gen.py --seed 1 --out DIR`` to write a log.
"""

from __future__ import annotations

import argparse
import dataclasses
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "add_to_cart", "purchase")
EVENT_TYPE_P = (0.5, 0.35, 0.1, 0.05)
PROPS = tuple(f'{{"v":{i}}}' for i in range(101))

# 2024-01-01T00:00:00Z in microseconds: all processing times fall on one day
# for the logs the benchmark writes, so no changelog partition ages out.
P0_US = 1_704_067_200_000_000
BATCH_SPAN_US = 60_000_000
ONTIME_LAG_US = 5_000_000
LATE_LAG_US = (3_600_000_000, 3 * 86_400_000_000)

SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
        ("processing_time", pa.timestamp("us")),
    ]
)


@dataclasses.dataclass(frozen=True)
class LogParams:
    seed: int
    batches: int
    events_per_batch: int
    users: int
    zipf_s: float = 0.9
    late_share: float = 0.10
    dup_share: float = 0.05

    def __post_init__(self):
        if self.batches < 1 or self.events_per_batch < 1 or self.users < 1:
            raise ValueError(f"batches, events_per_batch and users must be >= 1: {self}")
        for share in (self.late_share, self.dup_share):
            if not 0.0 <= share < 1.0:
                raise ValueError(f"shares must lie in [0, 1): {self}")


def _batch(rng, params: LogParams, b: int, next_id: int, user_of_rank, rank_cdf, prev):
    n = params.events_per_batch
    n_dup = int(n * params.dup_share) if prev is not None else 0
    n_new = n - n_dup
    ids = np.arange(next_id, next_id + n_new, dtype=np.int64)
    pt = P0_US + b * BATCH_SPAN_US + rng.integers(0, BATCH_SPAN_US, n_new)
    late = rng.random(n_new) < params.late_share
    lag = np.where(
        late,
        rng.integers(*LATE_LAG_US, n_new),
        rng.integers(0, ONTIME_LAG_US, n_new),
    )
    users = user_of_rank[np.searchsorted(rank_cdf, rng.random(n_new), side="right")]
    types = rng.choice(len(EVENT_TYPES), n_new, p=EVENT_TYPE_P)
    cols = {
        "event_id": ids,
        "ts": pt - lag,
        "user_id": users,
        "event_type": types,
        "value": np.round(rng.random(n_new) * 100.0, 2),
        "processing_time": pt,
    }
    if n_dup:
        # re-deliveries of events from the previous batch, stamped with this
        # batch's processing time
        pick = rng.integers(0, len(prev["event_id"]), n_dup)
        dup_pt = P0_US + b * BATCH_SPAN_US + rng.integers(0, BATCH_SPAN_US, n_dup)
        for k in cols:
            extra = dup_pt if k == "processing_time" else prev[k][pick]
            cols[k] = np.concatenate([cols[k], extra])
    order = np.argsort(cols["processing_time"], kind="stable")
    return {k: v[order] for k, v in cols.items()}, next_id + n_new


def _table(cols) -> pa.Table:
    def _strings(codes, dictionary):
        return pa.DictionaryArray.from_arrays(
            pa.array(codes, pa.int32()), pa.array(dictionary, pa.string())
        ).cast(pa.string())

    return pa.table(
        {
            "event_id": cols["event_id"],
            "ts": pa.array(cols["ts"], pa.timestamp("us")),
            "user_id": cols["user_id"],
            "event_type": _strings(cols["event_type"], EVENT_TYPES),
            "value": cols["value"],
            "props": _strings(cols["value"].astype(np.int64), PROPS),
            "processing_time": pa.array(cols["processing_time"], pa.timestamp("us")),
        },
        schema=SCHEMA,
    )


def iter_batches(params: LogParams):
    """Yield one pyarrow Table per batch, in processing-time order."""
    rng = np.random.default_rng(params.seed)
    weights = 1.0 / np.arange(1, params.users + 1) ** params.zipf_s
    rank_cdf = np.cumsum(weights / weights.sum())
    rank_cdf[-1] = 1.0
    user_of_rank = rng.permutation(params.users).astype(np.int64) + 1
    prev, next_id = None, 1
    for b in range(params.batches):
        cols, next_id = _batch(rng, params, b, next_id, user_of_rank, rank_cdf, prev)
        prev = cols
        yield _table(cols)


def write_batches(params: LogParams, out_dir: str) -> list[str]:
    """Write batch ``b`` to ``out_dir/b#####/events.parquet`` (the layout
    ``load_table(spark, batch_dir, "events")`` reads); return the batch dirs."""
    dirs = []
    for b, table in enumerate(iter_batches(params)):
        d = os.path.join(out_dir, f"b{b:05d}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(table, os.path.join(d, "events.parquet"))
        dirs.append(d)
    return dirs


def write_log(params: LogParams, out_dir: str) -> str:
    """Write the whole log as one table directory ``out_dir/events.parquet``
    with one part file per batch; return ``out_dir``."""
    table_dir = os.path.join(out_dir, "events.parquet")
    os.makedirs(table_dir, exist_ok=True)
    for b, table in enumerate(iter_batches(params)):
        pq.write_table(table, os.path.join(table_dir, f"part-{b:05d}.parquet"))
    return out_dir


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--batches", type=int, default=20)
    ap.add_argument("--events-per-batch", type=int, default=20_000)
    ap.add_argument("--users", type=int, default=20_000)
    ap.add_argument("--zipf-s", type=float, default=LogParams.zipf_s)
    ap.add_argument("--late-share", type=float, default=LogParams.late_share)
    ap.add_argument("--dup-share", type=float, default=LogParams.dup_share)
    a = ap.parse_args(argv)
    params = LogParams(
        seed=a.seed, batches=a.batches, events_per_batch=a.events_per_batch,
        users=a.users, zipf_s=a.zipf_s, late_share=a.late_share,
        dup_share=a.dup_share,
    )
    for d in write_batches(params, a.out):
        print(d)


if __name__ == "__main__":
    main()
