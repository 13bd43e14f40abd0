"""S12 — scheduled backup/restore with full / diff / accu generations.

Reference behavior being reproduced: the Couchbase backup job picks the
method from the weekday — full on Monday, incremental otherwise — and
shells ``cbbackup -m {full,diff,accu}``
(/root/reference/python/db_backup/cb_backup.py:62-93); ES indices get
compressed fs-snapshots (/root/reference/python/db_backup/es_backup.py:44-53).

Semantics (cbbackup's): **full** stores everything; **diff**
(differential incremental) stores what changed since the *previous
backup of any kind*; **accu** (cumulative incremental) stores what
changed since the *last full* — restore of an accu chain needs only
full + newest accu, a diff chain replays every diff since the full.

Spark-native mapping: a Table's snapshot data dirs are immutable
append-only units, so "what changed" is a set difference of dir names —
no row scanning. Each backup generation records ``covers`` (the table's
complete dir set at backup time) and physically copies only ``stored``
(the increment). Restore resolves every dir in the target generation's
``covers`` from the newest generation that stored it, then synthesizes
a single-snapshot Table — a consistent point-in-time view, exactly the
reference's restore contract.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import shutil

from mdmpublic_spark.tables import Snapshot, Table, write_json_atomic

MANIFEST = "_backups.json"


def weekday_method(day: _dt.date, incremental_mode: str | None = None) -> str:
    """Sunday → full, Wednesday → accu(mulate), other days → diff
    (mirrors the weekday→method map in cb_backup.py:62-70 exactly).
    Passing ``incremental_mode`` overrides the non-full days with one
    fixed incremental method (the config-driven deployment variant)."""
    if incremental_mode not in (None, "diff", "accu"):
        raise ValueError(f"bad incremental mode {incremental_mode!r}")
    if day.weekday() == 6:  # Sunday
        return "full"
    if incremental_mode is not None:
        return incremental_mode
    return "accu" if day.weekday() == 2 else "diff"  # Wednesday → accumulate


class BackupManager:
    """Backs up one Table's generations under ``root``."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _manifest_path(self) -> str:
        return os.path.join(self.root, MANIFEST)

    def generations(self) -> list[dict]:
        if not os.path.exists(self._manifest_path()):
            return []
        with open(self._manifest_path()) as f:
            return json.load(f)

    def backup(self, table: Table, method: str = "full") -> dict:
        """Take one backup generation. Returns its manifest entry.
        Falls back to full when an incremental has no full to build on."""
        if method not in ("full", "diff", "accu"):
            raise ValueError(f"bad backup method {method!r}")
        cur = table.current()
        if cur is None:
            raise FileNotFoundError(f"table {table.path} has no snapshots")
        covers = list(cur.data_dirs)
        gens = self.generations()
        fulls = [g for g in gens if g["method"] == "full"]
        if method == "full" or not fulls:
            method, base = "full", set()
        elif method == "accu":
            base = set(fulls[-1]["covers"])
        else:  # diff: since the previous backup of any kind
            base = set(gens[-1]["covers"])
        stored = [d for d in covers if d not in base]
        gen_id = len(gens) + 1
        gen_dir = os.path.join(self.root, f"gen-{gen_id:05d}-{method}")
        os.makedirs(gen_dir, exist_ok=True)
        for d in stored:
            shutil.copytree(os.path.join(table.path, d), os.path.join(gen_dir, d))
        entry = {
            "gen_id": gen_id,
            "method": method,
            "dir": os.path.basename(gen_dir),
            "covers": covers,
            "stored": stored,
            "snapshot_id": cur.snapshot_id,
            "row_count": cur.row_count,
            "schema": cur.schema,
        }
        write_json_atomic(self._manifest_path(), gens + [entry])
        return entry

    def restore(self, dest_path: str, gen_id: int | None = None) -> Table:
        """Rebuild the table as of generation ``gen_id`` (default newest)
        into ``dest_path``: every covered dir is pulled from the newest
        generation ≤ target that physically stored it."""
        gens = self.generations()
        if not gens:
            raise FileNotFoundError(f"no backup generations under {self.root}")
        upto = gens if gen_id is None else [g for g in gens if g["gen_id"] <= gen_id]
        target = upto[-1]
        source: dict[str, str] = {}
        for g in upto:  # later generations win (same dir never mutates, but be strict)
            for d in g["stored"]:
                source[d] = g["dir"]
        t = Table(dest_path)
        for d in target["covers"]:
            if d not in source:
                raise FileNotFoundError(
                    f"backup chain broken: dir {d} covered by gen {target['gen_id']} "
                    f"but stored by no generation"
                )
            dst = os.path.join(dest_path, d)
            if not os.path.exists(dst):
                shutil.copytree(os.path.join(self.root, source[d], d), dst)
        t._write_log(
            [
                Snapshot(
                    snapshot_id=target["snapshot_id"],
                    operation="restore",
                    ts=_dt.datetime.now().timestamp(),
                    row_count=target["row_count"],
                    data_dirs=list(target["covers"]),
                    schema=target.get("schema"),
                )
            ]
        )
        return t
