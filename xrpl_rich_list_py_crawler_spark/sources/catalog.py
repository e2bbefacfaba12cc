"""Snapshot catalog: atomic round commits + resume.

On a real cluster this is Iceberg (``writeTo(...).append()`` / MERGE /
snapshot expiry). This sandbox has no Iceberg runtime jar (SURVEY.md §7.4),
so the catalog emulates the properties the engine needs with Parquet
directories plus a JSON manifest whose update is an atomic
``os.replace`` — exactly the reference's tmp-file swap idiom
(``validator.py:184-185``, ``scraper.py:199,263``):

* **append tables** (``results``, ``metrics``, ``seen``): one immutable
  Parquet directory per round; readers union only *committed* rounds, so a
  half-written round is invisible (Iceberg snapshot-isolation analog).
* **state tables** (``frontier``): full snapshot per round; resume reads the
  last committed round (checkpoint/restart, SURVEY.md §4.2-5).
* **commit**: write every table of the round under ``.tmp-r{N}`` dirs, then
  rename dirs into place, then swap the manifest pointer last. A crash at
  any earlier point leaves the previous manifest intact → the run resumes
  from the previous round unchanged.
"""

from __future__ import annotations

import json
import os
import shutil
from functools import reduce

from pyspark.sql import DataFrame, SparkSession

MANIFEST = "manifest.json"


class SnapshotCatalog:
    """Per-run catalog rooted at a directory."""

    def __init__(self, root: str):
        self.root = os.path.abspath(root)
        os.makedirs(self.root, exist_ok=True)

    # -- manifest ----------------------------------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self.root, MANIFEST)

    def manifest(self) -> dict:
        p = self._manifest_path()
        if not os.path.exists(p):
            return {"committed_rounds": [], "tables": {}}
        with open(p) as f:
            return json.load(f)

    def _swap_manifest(self, m: dict) -> None:
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1, sort_keys=True)
        os.replace(tmp, self._manifest_path())  # atomic publish (S8)

    def last_round(self) -> int | None:
        rounds = self.manifest()["committed_rounds"]
        return max(rounds) if rounds else None

    # -- paths -------------------------------------------------------------

    def _table_dir(self, table: str, round_n: int, m: dict | None = None) -> str:
        """Physical dir for a (table, round). Compaction rewrites a round
        under a new GENERATION dirname recorded in the manifest (Iceberg
        data-file versioning analog), so the manifest swap stays the only
        commit point; un-compacted rounds use the default ``r{N:05d}``."""
        m = m if m is not None else self.manifest()
        dirs = m.get("tables", {}).get(table, {}).get("dirs", {})
        name = dirs.get(str(round_n), f"r{round_n:05d}")
        return os.path.join(self.root, table, name)

    # -- commit ------------------------------------------------------------

    def commit_round(self, round_n: int, tables: dict[str, DataFrame]) -> None:
        """Atomically publish one round's table set.

        Data is fully written (tmp dirs) before any rename; the manifest
        swap is the commit point. The tables are written one after another
        from the calling thread: a round's tables share persisted frames,
        and concurrent writer threads over one SparkContext recomputed
        those frames twice and could deadlock the JVM.
        """
        finals = []
        for name, df in tables.items():
            final = self._table_dir(name, round_n)
            tmp = final + ".tmp"
            if os.path.exists(tmp):
                shutil.rmtree(tmp)
            os.makedirs(os.path.dirname(final), exist_ok=True)
            df.write.mode("overwrite").parquet(tmp)
            finals.append((tmp, final))
        for tmp, final in finals:
            if os.path.exists(final):
                shutil.rmtree(final)
            os.rename(tmp, final)
        m = self.manifest()
        if round_n not in m["committed_rounds"]:
            m["committed_rounds"].append(round_n)
            m["committed_rounds"].sort()
        for name in tables:
            m["tables"].setdefault(name, {"rounds": []})
            if round_n not in m["tables"][name]["rounds"]:
                m["tables"][name]["rounds"].append(round_n)
                m["tables"][name]["rounds"].sort()
        self._swap_manifest(m)

    # -- read --------------------------------------------------------------

    def read_round(self, spark: SparkSession, table: str, round_n: int) -> DataFrame:
        return spark.read.parquet(self._table_dir(table, round_n))

    def read_appended(
        self, spark: SparkSession, table: str, up_to_round: int | None = None
    ) -> DataFrame | None:
        """Union of all committed round-increments of an append table.

        Only manifest-listed rounds are read — uncommitted/torn dirs are
        invisible (snapshot isolation).

        As-of reads (``up_to_round``) are only valid above the table's
        compaction floor: :meth:`compact_rounds` reassigns merged rows to
        the newest merged round, so a read below it would silently return
        nothing for the merged history. Such reads raise instead of
        lying (ADVICE r02). The crawl loop always reads up to the latest
        round and compacts behind itself, so it never trips this.
        """
        m = self.manifest()
        meta = m["tables"].get(table, {})
        rounds = meta.get("rounds", [])
        if up_to_round is not None:
            floor = meta.get("compacted_through", 0)
            if up_to_round < floor:
                raise ValueError(
                    f"as-of read of '{table}' at round {up_to_round} is below "
                    f"its compaction floor {floor}: rows from rounds ≤ {floor} "
                    f"were merged into round {floor} by compact_rounds and "
                    "can no longer be separated by round"
                )
            rounds = [r for r in rounds if r <= up_to_round]
        if not rounds:
            return None
        paths = [self._table_dir(table, r, m) for r in rounds]
        dfs = [spark.read.parquet(p) for p in paths]
        return reduce(lambda a, b: a.unionByName(b), dfs)

    def read_state(
        self, spark: SparkSession, table: str, round_n: int | None = None
    ) -> DataFrame | None:
        """Latest (or specified) full snapshot of a state table."""
        m = self.manifest()
        rounds = m["tables"].get(table, {}).get("rounds", [])
        if not rounds:
            return None
        r = round_n if round_n is not None else max(rounds)
        if r not in rounds:
            return None
        return self.read_round(spark, table, r)

    def row_count(self, table: str, round_n: int) -> int | None:
        """Row count from Parquet footers (pyarrow, driver-side, no Spark
        job) — the Iceberg-manifest-statistics analog. Used by the round
        loop's empty-frontier check so it costs zero cluster work."""
        import glob

        import pyarrow.parquet as pq

        d = self._table_dir(table, round_n)
        if not os.path.isdir(d):
            return None
        return sum(
            pq.read_metadata(f).num_rows
            for f in glob.glob(os.path.join(d, "*.parquet"))
        )

    #: tables that are DEDUP KEYS, not snapshot data: retention must never
    #: truncate them or expired URLs would be re-fetched (the reference
    #: keeps its UNIQUE(address, snapshot_date) key / processed set while
    #: expiring only snapshot rows)
    RETAIN_TABLES = ("seen", "frontier")

    def expire_rounds(self, keep_last: int) -> list[int]:
        """Retention ≅ cleanup_old_rich_list_data (function.sql:408-422) /
        Iceberg expire_snapshots: drop all but the last ``keep_last``
        committed rounds of append tables' physical data, manifest first
        so readers never see a dangling path.

        Tables in :data:`RETAIN_TABLES` keep every round: the ``seen``
        ledger is the crawl's dedup key and the ``frontier`` is resume
        state — expiring either would silently re-fetch previously-crawled
        URLs after retention kicks in.
        """
        m = self.manifest()
        rounds = m["committed_rounds"]
        if len(rounds) <= keep_last:
            return []
        drop = rounds[:-keep_last]
        keep = rounds[-keep_last:]
        m["committed_rounds"] = keep
        for t in m["tables"]:
            if t in self.RETAIN_TABLES:
                continue
            m["tables"][t]["rounds"] = [
                r for r in m["tables"][t]["rounds"] if r in keep
            ]
        self._swap_manifest(m)
        for t, meta in list(m["tables"].items()):
            if t in self.RETAIN_TABLES:
                continue
            dirs = meta.get("dirs", {})
            for r in drop:
                rd = os.path.join(
                    self.root, t, dirs.get(str(r), f"r{r:05d}")
                )
                if os.path.exists(rd):
                    shutil.rmtree(rd)
        return drop

    def compact_rounds(
        self,
        spark: SparkSession,
        table: str,
        up_to_round: int | None = None,
    ) -> list[int]:
        """Small-files maintenance ≅ Iceberg ``rewrite_data_files``: merge
        an append table's committed round increments (≤ ``up_to_round``)
        into one coalesced directory owned by the newest merged round.

        The crawl's ``seen`` ledger is retained forever (it is the dedup
        key), so its round count grows without bound — compaction is what
        keeps ``read_appended`` from uniting thousands of tiny files. The
        rewrite lands under a NEW generation dirname; the manifest swap is
        the single commit point (a crash before it leaves the old manifest
        + old dirs fully intact), and old dirs are deleted only after.
        Readers see the identical row multiset before and after.
        """
        m = self.manifest()
        meta = m["tables"].get(table)
        if meta is None:
            return []
        rounds = sorted(meta["rounds"])
        if up_to_round is not None:
            rounds = [r for r in rounds if r <= up_to_round]
        if len(rounds) <= 1:
            return []
        dest = rounds[-1]
        dirs = meta.setdefault("dirs", {})
        old_paths = [self._table_dir(table, r, m) for r in rounds]
        cur_name = dirs.get(str(dest), f"r{dest:05d}")
        gen = int(cur_name.rsplit("_g", 1)[1]) + 1 if "_g" in cur_name else 1
        new_name = f"r{dest:05d}_g{gen}"
        new_dir = os.path.join(self.root, table, new_name)
        tmp = new_dir + ".tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        if os.path.exists(new_dir):
            # crash window: a prior attempt renamed tmp -> new_dir but died
            # before the manifest swap. The dir is by construction
            # uncommitted (the manifest still points at the old name), so a
            # retry must clear it or os.rename onto a non-empty dir raises
            # and wedges compaction permanently (ADVICE r02).
            shutil.rmtree(new_dir)
        df = reduce(
            lambda a, b: a.unionByName(b),
            [spark.read.parquet(p) for p in old_paths],
        )
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        os.rename(tmp, new_dir)
        merged_away = rounds[:-1]
        meta["rounds"] = [r for r in meta["rounds"] if r not in merged_away]
        for r in merged_away:
            dirs.pop(str(r), None)
        dirs[str(dest)] = new_name
        # as-of reads below dest can no longer separate the merged history
        meta["compacted_through"] = max(meta.get("compacted_through", 0), dest)
        self._swap_manifest(m)  # commit point
        for p in old_paths:
            if os.path.exists(p):
                shutil.rmtree(p)
        return merged_away
