"""The benchmark's workloads: what one pass runs and how its output is checked."""

from __future__ import annotations

import hashlib
import math
import os
import re
import shutil
from collections import defaultdict

from perfbench import data
from perfbench.host import WORK


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6f}"
    return str(v)


def rows_digest(cols, rows) -> str:
    """Order-insensitive digest of a result: columns sorted by name,
    floats to six decimals, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    lines = sorted("|".join(_canon(r[i]) for i in order) for r in rows)
    head = ",".join(sorted(c.lower() for c in cols))
    return hashlib.sha256("\n".join([head, *lines]).encode()).hexdigest()


class Corpus:
    """``run_pipeline`` (hybrid) over a seeded benchcorpus with one
    drifting-chain component; every pass is checked against the planted
    truth."""

    name = "corpus"
    _BASE = re.compile(r"mod_(\d+)")

    def __init__(self, seed: int):
        self.path = data.corpus_dir(seed)
        self.truth = data.corpus_truth(self.path)
        self.rows = len(self.truth)
        self.input_bytes = data.parquet_bytes(self.path)

    def prepare(self, spark) -> None:
        pass

    def run(self, spark) -> list:
        import __spark_entry__ as entry
        from photo_dedup_spark.pipeline import run_pipeline

        res = run_pipeline(
            spark,
            spark.read.parquet(self.path),
            entry.ENTRY_CONFIG,
            mode="hybrid",
            collect_metrics=False,
        )
        return res.assignments.select("repo", "path", "cluster_id", "is_keep").collect()

    def check(self, rows) -> dict:
        """Planted-truth recall and precision (as tests/test_bench_recall.py
        defines them, chain rows left out), plus invariants: one output
        row per input row, one keep per cluster, chain rows never share
        a cluster with other rows, equal raw sha256 => same cluster."""
        problems = []
        cluster = {(r.repo, r.path): r.cluster_id for r in rows}
        if len(rows) != self.rows or len(cluster) != self.rows:
            problems.append(f"{len(rows)} output rows for {self.rows} input rows")
        keeps = defaultdict(int)
        for r in rows:
            keeps[r.cluster_id] += bool(r.is_keep)
        if any(n != 1 for n in keeps.values()):
            problems.append("a cluster without exactly one keep")
        base_cluster, planted = {}, []
        members = defaultdict(set)
        chain_clusters, other_clusters = set(), set()
        for repo, path, _ in self.truth:
            cid = cluster.get((repo, path))
            if repo == "boiler/chain":
                chain_clusters.add(cid)
                continue
            other_clusters.add(cid)
            base = int(self._BASE.search(path).group(1))
            members[cid].add(base)
            if repo.startswith("org"):
                base_cluster[base] = cid
            elif repo.startswith(("fork", "near")):
                planted.append((base, cid))
        hits = sum(1 for base, cid in planted if base_cluster.get(base) == cid)
        recall = hits / len(planted) if planted else 0.0
        mixed = sum(1 for s in members.values() if len(s) > 1)
        precision = 1 - mixed / len(members) if members else 0.0
        if chain_clusters & other_clusters:
            problems.append("chain rows share a cluster with non-chain rows")
        by_sha = defaultdict(set)
        for repo, path, sha in self.truth:
            by_sha[sha].add(cluster.get((repo, path)))
        if any(len(c) > 1 for c in by_sha.values()):
            problems.append("rows with equal sha256 in different clusters")
        if recall < 0.99 or precision < 0.99:
            problems.append(f"recall {recall:.4f} / precision {precision:.4f} below 0.99")
        return {"ok": not problems, "problems": problems,
                "recall": recall, "precision": precision}

    def run_staged(self, spark) -> tuple[list, int]:
        """The same corpus through ``run_staged_pipeline``, every layer
        boundary persisted as parquet in a fresh work directory.
        Returns the assignment rows and the bytes written."""
        import __spark_entry__ as entry
        from photo_dedup_spark.staged import run_staged_pipeline

        work = os.path.join(WORK, "staged")
        shutil.rmtree(work, ignore_errors=True)
        assignments, _ = run_staged_pipeline(
            spark, spark.read.parquet(self.path), work, entry.ENTRY_CONFIG
        )
        rows = assignments.select("repo", "path", "cluster_id", "is_keep").collect()
        return rows, data.parquet_bytes(work)


class Queries:
    """Declared queries over seeded tables drawn like the sf0.01 testdata
    (see data.py): gram index, PPJoin, winnowing, sessionization and
    embedding top-k.  The ANN, containment and substring queries are
    left out: each adds 3.5-8 s of fixed cost per pass.  Results are
    digested; queries with a DuckDB twin are checked against it once at
    set-up, the others are pinned by their first pass, and every pass
    compares digests."""

    name = "queries"
    NAMES = (
        "ngram_jaccard_pairs",
        "ppjoin_pairs",
        "winnow_fingerprints",
        "session_stats",
        "embedding_topk",
    )

    def __init__(self, seed: int):
        self.dir = data.query_tables_dir(seed)
        self.rows = data.table_rows(self.dir)
        self.reference: dict[str, str] = {}

    def prepare(self, spark) -> None:
        import duckdb

        import __spark_entry__ as entry

        twins = entry.oracle_sql()
        con = duckdb.connect()
        for t in ("documents", "embeddings", "events"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
        for name in self.NAMES:
            if name in twins:
                res = con.execute(twins[name])
                cols = [d[0] for d in res.description]
                self.reference[name] = rows_digest(cols, res.fetchall())
        con.close()

    def run(self, spark, tracer=None) -> dict[str, str]:
        import __spark_entry__ as entry

        qmap = entry.queries()
        out = {}
        for name in self.NAMES:
            if tracer is not None:
                tracer.enter(f"queries.{name}")
            df = qmap[name](spark, self.dir)
            out[name] = rows_digest(df.columns, df.collect())
        if tracer is not None:
            tracer.enter(None)
        return out

    def check(self, digests) -> dict:
        problems = []
        for name, d in digests.items():
            want = self.reference.setdefault(name, d)
            if d != want:
                problems.append(f"{name}: digest differs from reference")
        return {"ok": not problems, "problems": problems}


WORKLOADS = {w.name: w for w in (Corpus, Queries)}
