"""Snapshot catalog: atomic round commits + resume.

On a real cluster this is Iceberg (``writeTo(...).append()`` / MERGE /
snapshot expiry). This sandbox has no Iceberg runtime jar (SURVEY.md §7.4),
so the catalog emulates the properties the engine needs with Parquet
directories plus a JSON manifest whose update is an atomic
``os.replace`` — exactly the reference's tmp-file swap idiom
(``validator.py:184-185``, ``scraper.py:199,263``):

* **append tables** (``results``, ``metrics``, ``seen``): one immutable
  Parquet directory per round; readers scan only *committed* rounds, all
  of a table's directories in one ``spark.read.parquet``, so a
  half-written round is invisible (Iceberg snapshot-isolation analog).
* **state tables** (``frontier``): full snapshot per round; resume reads the
  last committed round (checkpoint/restart, SURVEY.md §4.2-5).
* **commit** (and compaction, the same write path): stage every table
  under ``<dir>.tmp``, rename each to a dirname no manifest entry names
  (``r{N:05d}`` for a new round, the next ``r{N:05d}_g{k}`` for a
  re-commit or a compaction), swap the manifest pointer, and only then
  delete the dirs the swap superseded. A crash before the swap leaves the
  previous manifest and every dir it names intact → the run resumes from
  the previous round unchanged; a crash after it leaves only unlisted
  dirs behind, and every publish starts by deleting the unlisted dirs of
  the tables it writes.
"""

from __future__ import annotations

import json
import os
import shutil

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
        """Physical dir for a (table, round). A re-commit or a compaction
        rewrites a round under a new GENERATION dirname recorded in the
        manifest (Iceberg data-file versioning analog), so the manifest swap
        stays the only commit point; other rounds use ``r{N:05d}``."""
        m = m if m is not None else self.manifest()
        dirs = m.get("tables", {}).get(table, {}).get("dirs", {})
        name = dirs.get(str(round_n), f"r{round_n:05d}")
        return os.path.join(self.root, table, name)

    def _fresh_name(self, m: dict, table: str, round_n: int) -> str:
        """A dirname no manifest entry points to: ``r{N:05d}`` for a round
        the table does not list, else the next generation
        ``r{N:05d}_g{k}`` after the one the manifest names."""
        base = f"r{round_n:05d}"
        meta = m["tables"].get(table, {})
        if round_n not in meta.get("rounds", []):
            return base
        cur = meta.get("dirs", {}).get(str(round_n), base)
        gen = int(cur.rsplit("_g", 1)[1]) + 1 if "_g" in cur else 1
        return f"{base}_g{gen}"

    # -- write -------------------------------------------------------------

    def _publish(
        self,
        m: dict,
        frames: dict[tuple[str, int], DataFrame],
        merged: tuple[tuple[str, int], ...] = (),
    ) -> None:
        """The one write path, shared by commit and compaction.

        Each table written is first cleared of every dir ``m`` does not
        name. Each ``(table, round)`` frame is then staged under
        ``<name>.tmp`` and renamed to a :meth:`_fresh_name`; then the
        manifest ``m`` (the caller's edited copy) is swapped with each round
        listed under its new dirname and the ``merged`` entries removed;
        only then are the directories the swap superseded deleted. Nothing
        the current manifest names is removed or renamed onto before the
        swap, so a crash at any step leaves the previous snapshot whole.

        The tables are written one after another from the calling thread:
        a round's tables share persisted frames, and concurrent writer
        threads over one SparkContext recomputed those frames twice and
        could deadlock the JVM.
        """
        # no dir the manifest does not name is committed: the staged and
        # renamed dirs of attempts that died before their swap, and dirs a
        # swap superseded whose delete failed. Clearing them here reclaims
        # them, and os.rename never lands on a non-empty dir (ADVICE r02).
        for table in {t for t, _ in frames}:
            d = os.path.join(self.root, table)
            os.makedirs(d, exist_ok=True)
            named = {os.path.basename(self._table_dir(table, r, m))
                     for r in m["tables"].get(table, {}).get("rounds", [])}
            for entry in set(os.listdir(d)) - named:
                shutil.rmtree(os.path.join(d, entry))
        staged = []
        for (table, r), df in frames.items():
            name = self._fresh_name(m, table, r)
            final = os.path.join(self.root, table, name)
            tmp = final + ".tmp"
            df.write.mode("overwrite").parquet(tmp)
            staged.append((table, r, name, tmp, final))
        for _, _, _, tmp, final in staged:
            os.rename(tmp, final)
        superseded = [self._table_dir(t, r, m) for t, r in merged]
        for table, r, name, _, _ in staged:
            meta = m["tables"].setdefault(table, {"rounds": []})
            if r in meta["rounds"]:
                superseded.append(self._table_dir(table, r, m))
            else:
                meta["rounds"] = sorted(meta["rounds"] + [r])
            if name != f"r{r:05d}":
                meta.setdefault("dirs", {})[str(r)] = name
        for t, r in merged:
            m["tables"][t]["rounds"].remove(r)
            m["tables"][t].get("dirs", {}).pop(str(r), None)
        self._swap_manifest(m)  # commit point
        for p in superseded:
            if os.path.exists(p):
                shutil.rmtree(p)

    def commit_round(self, round_n: int, tables: dict[str, DataFrame]) -> None:
        """Atomically publish one round's table set. Re-committing a round
        replaces its content: the new files land under a new generation
        dirname and the old ones are deleted after the swap."""
        m = self.manifest()
        if round_n not in m["committed_rounds"]:
            m["committed_rounds"] = sorted(m["committed_rounds"] + [round_n])
        self._publish(m, {(t, round_n): df for t, df in tables.items()})

    # -- read --------------------------------------------------------------

    def _read(
        self, spark: SparkSession, table: str, rounds: list[int],
        m: dict | None = None,
    ) -> DataFrame:
        """The one read path: every round's directory in one scan, so the
        schema is inferred by one Spark job, not one per round."""
        m = m if m is not None else self.manifest()
        return spark.read.parquet(*(self._table_dir(table, r, m) for r in rounds))

    def read_round(self, spark: SparkSession, table: str, round_n: int) -> DataFrame:
        return self._read(spark, table, [round_n])

    def read_appended(
        self, spark: SparkSession, table: str, up_to_round: int | None = None
    ) -> DataFrame | None:
        """All committed round-increments of an append table.

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
        return self._read(spark, table, rounds, m)

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
        return self._read(spark, table, [r], m)

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
        doomed = []
        for t, meta in m["tables"].items():
            if t in self.RETAIN_TABLES:
                continue
            doomed += [self._table_dir(t, r, m) for r in drop]
            meta["rounds"] = [r for r in meta["rounds"] if r in keep]
            for r in drop:
                meta.get("dirs", {}).pop(str(r), None)
        self._swap_manifest(m)
        for d in doomed:
            if os.path.exists(d):
                shutil.rmtree(d)
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
        keeps ``read_appended`` from scanning thousands of tiny files. The
        rewrite goes through the commit's write path (:meth:`_publish`):
        it lands under a new generation dirname, the manifest swap is the
        commit point, and the merged dirs are deleted only after it.
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
        dest, merged_away = rounds[-1], rounds[:-1]
        df = self._read(spark, table, rounds, m).coalesce(1)
        # as-of reads below dest can no longer separate the merged history
        meta["compacted_through"] = max(meta.get("compacted_through", 0), dest)
        merged = tuple((table, r) for r in merged_away)
        self._publish(m, {(table, dest): df}, merged)
        return merged_away
