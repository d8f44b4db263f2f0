"""Workload definitions and their cached, seeded inputs.

Each workload is one change tail plus one table mode. The tail is generated
once per (workload, seed) by ``cdc.generator`` and landed read-only under
``.perfbench_cache/``; every later run with the same seed reads
byte-identical files. The pandas replay oracle (``cdc.oracle``) runs at the
same time, once per drain boundary, and only what the checks compare is
kept: row count, digest, the rows of each point lookup and of the changelog.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd

N_BUCKETS = 32
CACHE_FORMAT = 3


@dataclass(frozen=True)
class Workload:
    name: str
    mode: str              # table mode: "mor" | "cow"
    n_events: int          # events before duplicate delivery
    n_epochs: int          # epochs landed, one trigger each
    files_per_epoch: int   # landing files per epoch (= maxFilesPerTrigger)
    uniform: bool          # re-draw conversation ids uniformly (no hot key)
    # Bulk workloads drain the whole landing into a fresh table each time,
    # after untimed drains of a separate, smaller tail and of the landing.
    # Trickle workloads keep one table for the run: the first
    # ``warmup_epochs`` are the untimed warm-up and each timed drain appends
    # the next ``drain_epochs``.
    warmup_epochs: int
    drain_epochs: int | None = None
    # the tail is this many copies of one generated tail, on disjoint
    # conversations (see ``replicate``)
    copies: int = 1

    @property
    def trickle(self) -> bool:
        return self.drain_epochs is not None

    def boundaries(self) -> list[int]:
        """Landed epoch count after each timed drain."""
        if not self.trickle:
            return [self.n_epochs]
        return list(range(self.warmup_epochs + self.drain_epochs, self.n_epochs + 1, self.drain_epochs))


# Sizes fit a 4-core box, where a cold JVM needs 25-40 s to reach the
# first timed drain, so a run holds one timed drain. A bulk epoch is
# 100k events; the uniform tail is 3 copies of a 100k-event tail, which
# keeps its oracle (a row-at-a-time replay) at a few seconds per seed.
# Trickle epochs are 800 events, bound by the per-epoch floor. A trickle
# drain of 8 epochs crosses LakeTable.compact_threshold (8 generations per
# bucket), so every timed drain compacts, in its seventh epoch for the
# first drain. The landing holds three drains, enough for a traced run.
WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload("bulk_zipf", "mor", 300_000, 3, 4, False, 2),
        Workload("bulk_uniform", "mor", 300_000, 3, 4, True, 2, copies=3),
        Workload("trickle_mor", "mor", 21_600, 27, 1, False, 3, 8),
        Workload("trickle_cow", "cow", 21_600, 27, 1, False, 3, 8),
    )
}


def generate_tail(wl: Workload, seed: int, n_events: int, n_epochs: int) -> pd.DataFrame:
    """The standard adversarial tail (zipf conversations, duplicates, late
    events, ts collisions, deletes) of ``n_events``, before ``replicate``;
    ``uniform`` re-draws conversation ids uniformly over ``n_events / 40``
    conversations (about one event per (conv, turn) key). The re-draw is a
    function of ``seq``, so a duplicate delivery keeps its original's key."""
    from investigraph_etl_spark.cdc.generator import GeneratorConfig, generate_events

    ev = generate_events(
        GeneratorConfig(
            n_events=n_events,
            n_convs=max(100, n_events // 50),
            seed=seed,
            n_epochs=n_epochs,
        )
    )
    if wl.uniform:
        rng = np.random.default_rng(seed + 1_000_003)
        n_convs = max(100, n_events // 40)
        conv_of_seq = rng.integers(0, n_convs, size=int(ev["seq"].max()) + 1)
        ev["conv_id"] = np.array(
            [f"conv-{c:06d}" for c in conv_of_seq[ev["seq"].to_numpy()]], dtype=object
        )
    return ev


def replicate(df: pd.DataFrame, copies: int) -> pd.DataFrame:
    """``copies`` copies of a tail or of its replay, on disjoint
    conversations: copy k prefixes every conversation id with ``k-``. An
    event's ``seq`` becomes ``seq * copies + k``, so the copies interleave in
    seq order and each keeps its own. LWW is per key, so the replay of the
    copies is the copies of the replay."""
    if copies == 1:
        return df
    parts = []
    for k in range(copies):
        part = df.copy()
        part["conv_id"] = f"{k}-" + part["conv_id"]
        if "seq" in part:
            part["seq"] = part["seq"] * copies + k
        parts.append(part)
    out = pd.concat(parts, ignore_index=True)
    return out.sort_values("seq", ignore_index=True) if "seq" in out else out


def table_digest(df: pd.DataFrame) -> int:
    """Order-independent digest of a live table (conv_id, turn_idx, role,
    text, tool, ts): the wrapping uint64 sum of per-row hashes. The same
    function digests the oracle and ``LakeTable.read().toPandas()``."""
    norm = pd.DataFrame(
        {
            "conv_id": df["conv_id"].astype(str).to_numpy(),
            "turn_idx": df["turn_idx"].astype("int64").to_numpy(),
            **{
                c: df[c].astype(object).where(df[c].notna(), "\x00").astype(str).to_numpy()
                for c in ("role", "text", "tool")
            },
            "ts": pd.to_datetime(df["ts"]).astype("datetime64[us]").astype("int64").to_numpy(),
        }
    )
    h = pd.util.hash_pandas_object(norm, index=False).to_numpy(dtype=np.uint64)
    return int(h.sum(dtype=np.uint64))


def _properties(ev: pd.DataFrame) -> dict:
    n = len(ev)
    keys = ev.groupby(["conv_id", "turn_idx"]).size()
    convs = ev["conv_id"].value_counts()
    return {
        "events": n,
        "epochs": int(ev["epoch"].nunique()),
        "events_per_key": round(n / len(keys), 4),
        "top_conv_share": round(float(convs.iloc[0]) / n, 4),
        "top_key_share": round(float(keys.max()) / n, 4),
        "deletes": int((ev["op"] == "delete").sum()),
    }


def _lookup_keys(oracle: pd.DataFrame, seed: int) -> list[dict]:
    """A fixed mix of point lookups: the conversation with the most live
    rows (hot), the one at the median rank (cold) and a seeded id the tail
    never contains (absent). The cold key is picked by rank, not at random:
    how many files a lookup scans depends on where the id falls in the
    files' zone maps, and a random pick made that vary by 3x across seeds."""
    rows = oracle["conv_id"].value_counts()
    rng = np.random.default_rng(seed + 7)
    return [
        {"kind": "hot", "conv_id": str(rows.index[0])},
        {"kind": "cold", "conv_id": str(rows.index[len(rows) // 2])},
        {"kind": "absent", "conv_id": f"conv-9{int(rng.integers(0, 99_999)):05d}"},
    ]


def _expected(ev: pd.DataFrame, upto: int, oracle: pd.DataFrame, lookups: list[dict]) -> dict:
    """What the table must hold once epochs ``[0, upto)`` are applied;
    ``oracle`` is the replay of exactly those epochs."""
    rows = oracle["conv_id"].value_counts()
    last2 = ev[ev["epoch"].isin([upto - 2, upto - 1])]
    return {
        "rows": len(oracle),
        "digest": table_digest(oracle),
        "lookup_rows": [int(rows.get(p["conv_id"], 0)) for p in lookups],
        # a MOR epoch commit adds one row per distinct key of its epoch, so
        # changes() over the last two epoch commits returns this many rows
        "last2_epoch_keys": sum(
            len(g[["conv_id", "turn_idx"]].drop_duplicates()) for _, g in last2.groupby("epoch")
        ),
    }


def _land(ev: pd.DataFrame, out_dir: str, files_per_epoch: int) -> None:
    """Write the epoch files, then space their mtimes a second apart in
    name order: the file source admits files oldest first, so equal mtimes
    could let one trigger take files of two epochs."""
    from investigraph_etl_spark.cdc.generator import write_epoch_files

    paths = sorted(write_epoch_files(ev, out_dir, files_per_epoch=files_per_epoch))
    base = int(os.path.getmtime(paths[0])) - len(paths)
    for i, p in enumerate(paths):
        os.utime(p, (base + i, base + i))


@dataclass(frozen=True)
class Inputs:
    landing: str
    warmup: str | None  # separate warm-up landing (bulk workloads only)
    meta: dict

    def epoch_files(self, lo: int, hi: int) -> list[str]:
        """Landing files of epochs ``[lo, hi)``, in landing order."""
        return sorted(
            os.path.join(self.landing, f)
            for f in os.listdir(self.landing)
            if lo <= int(f.split("-")[1]) < hi
        )


def prepare(wl: Workload, seed: int, cache_root: str) -> Inputs:
    """Land the workload's tail for ``seed`` (once) and return its paths and
    recorded properties. A half-written cache entry is never visible: it is
    built in a temporary directory and renamed into place."""
    from investigraph_etl_spark.cdc.oracle import replay_oracle

    # the entry name pins the spec and the cache layout, so an edited
    # workload never reads a stale landing
    spec = hashlib.sha1(f"{CACHE_FORMAT}{wl}".encode()).hexdigest()[:10]
    final = os.path.join(cache_root, f"{wl.name}-s{seed}-{spec}")
    meta_path = os.path.join(final, "meta.json")
    if not os.path.exists(meta_path):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        base = generate_tail(wl, seed, wl.n_events // wl.copies, wl.n_epochs)
        ev = replicate(base, wl.copies)
        _land(ev, os.path.join(tmp, "landing"), wl.files_per_epoch)
        if not wl.trickle:
            # a quarter of the tail in two epochs: enough rows for the
            # data plane's code to be compiled before the timed drain
            warm = generate_tail(wl, seed + 500_009, wl.n_events // 4, wl.warmup_epochs)
            _land(warm, os.path.join(tmp, "warmup"), wl.files_per_epoch)
        oracles = {
            b: replicate(replay_oracle(base[base["epoch"] < b]), wl.copies) for b in wl.boundaries()
        }
        lookups = _lookup_keys(oracles[wl.boundaries()[-1]], seed)
        meta = {
            "workload": wl.name,
            "seed": seed,
            "properties": _properties(ev),
            "epoch_events": ev.groupby("epoch").size().tolist(),
            "lookups": lookups,
            "expected": {str(b): _expected(ev, b, o, lookups) for b, o in oracles.items()},
        }
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f, indent=1)
        os.makedirs(cache_root, exist_ok=True)
        try:
            os.rename(tmp, final)
        except OSError:  # another run landed it first
            shutil.rmtree(tmp, ignore_errors=True)
    with open(meta_path) as f:
        meta = json.load(f)
    warmup = None if wl.trickle else os.path.join(final, "warmup")
    return Inputs(os.path.join(final, "landing"), warmup, meta)

