"""Independent checks of each workload's outputs.

Nothing here re-runs the program: the checks read the files a run wrote and
compare them with expectations computed from the inputs alone, by networkx
(road network, shortest-path chain), by DuckDB (gate oracles, cached per
input and SQL, see oracles.py) and by pyarrow (curation properties).
Each check returns a list of problems; an empty list means correct.
"""
import csv
import glob
import json
import math
import os
import re

import networkx as nx
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from inputs import haversine_km

UPGRADES = {"upgrade-rehab-asphalt", "upgrade-rehab-gravel", "rehab-earth"}


# ----------------------------------------------------------------- indicators
def criticality(nodes, ways):
    """Leave-one-out criticality of every way, recomputed with networkx for
    the OD nodes `Pipeline.run` picks: {name: (unroutable, impacted, score)}."""
    index = {osm: i for i, (osm, _, _) in enumerate(nodes)}
    lon = [x for _, x, _ in nodes]
    lat = [y for _, _, y in nodes]
    g = nx.Graph()
    g.add_nodes_from(range(len(nodes)))
    for w in ways:
        ruc = float(w["tags"]["RUC"])
        for a, b in zip(w["refs"], w["refs"][1:]):
            ia, ib = index[a], index[b]
            assert not g.has_edge(ia, ib), "the generator makes one way per node pair"
            g.add_edge(ia, ib, way=w["tags"]["NAME"],
                       cost=ruc * haversine_km(lon[ia], lat[ia], lon[ib], lat[ib]))
    n = len(nodes)
    clon, clat = sum(lon) / n, sum(lat) / n
    center = min(range(n), key=lambda i: ((lon[i] - clon) ** 2 + (lat[i] - clat) ** 2, i))
    od = [0, n - 1, center]

    def matrix(removed):
        weight = (lambda u, v, d: None if d["way"] == removed else d["cost"])
        dist = [nx.single_source_dijkstra_path_length(g, s, weight=weight) for s in od]
        out = []
        for i in range(len(od)):
            for j in range(i + 1, len(od)):
                ab, ba = dist[i].get(od[j]), dist[j].get(od[i])
                out.append(None if ab is None or ba is None else max(ab, ba))
        return out

    bench = matrix(None)
    stats = {}
    for w in ways:
        name = w["tags"]["NAME"]
        unroutable = impacted = 0
        deltas = []
        for cost, base in zip(matrix(name), bench):
            if cost is None:
                unroutable += 1
                continue
            d = cost - (base if base is not None else 0.0)
            if d >= 0:
                deltas.append(d)
            if d > 0:
                impacted += 1
            if d < 0:
                unroutable += 1
        nonzero = sum(1 for d in deltas if d != 0.0)
        avg_nz = sum(deltas) / nonzero if nonzero else 0.0
        stats[name] = (unroutable, impacted, avg_nz)
    avg_max = max((u + i) * a for u, i, a in stats.values())
    max_unr = max(u for u, _, _ in stats.values())
    scores = {}
    for name, (u, i, a) in stats.items():
        t = (u + i) * a / avg_max if avg_max > 0 else 0.0
        r = u / max_unr if max_unr > 0 else 0.0
        scores[name] = (u, i, (0.4 * t + 0.6 * r) * 100)
    return scores


def check_indicators(nodes, ways, out_dir, rounds):
    expect = criticality(nodes, ways)
    problems = []
    if not any(u > 0 for u, _, _ in expect.values()):
        problems.append("input: no leave-one-out scenario cuts an OD pair")
    for r in range(rounds):
        rows = []
        for f in sorted(glob.glob(f"{out_dir}/r{r}/indicators/*.csv")):
            with open(f) as fh:
                rows += list(csv.DictReader(fh))
        got = {row["NAME"]: row for row in rows}
        if len(rows) != len(ways) or set(got) != set(expect):
            problems.append(f"round {r}: indicator rows {len(rows)} != ways {len(ways)}")
            continue
        for name, (_, _, score) in expect.items():
            s = got[name]["crit_score"]
            if s == "" or abs(float(s) - score) > 0.0051:
                problems.append(f"round {r}: {name} criticality {s} != networkx {score:.4f}")
                break
        eaul = []
        for f in sorted(glob.glob(f"{out_dir}/r{r}/eaul/*.json")):
            with open(f) as fh:
                eaul += [json.loads(line) for line in fh if line.strip()]
        keys = [(e["way_id"], e["upgrade"]) for e in eaul]
        want = {(w["tags"]["NAME"], u) for w in ways for u in UPGRADES} | {("baseline", "baseline")}
        if len(keys) != len(want) or set(keys) != want:
            problems.append(f"round {r}: EAUL rows are not one per (way, upgrade) plus baseline")
        if any(e["eaul"] != 0 for e in eaul):
            problems.append(f"round {r}: EAUL not 0 with no flood stats")
    return problems


# ---------------------------------------------------------------- sssp chain
def check_sssp(edges, rows):
    g = nx.Graph()
    for a, b, w in edges:
        if not g.has_edge(a, b) or g[a][b]["w"] > w:
            g.add_edge(a, b, w=w)
    expect = nx.single_source_dijkstra_path_length(g, 0, weight="w")
    got = {int(n): d for n, d in rows}
    if set(got) != set(expect):
        return [f"graph.Bfs.sssp: reached {len(got)} nodes, networkx {len(expect)}"]
    bad = [n for n in expect if not math.isclose(got[n], expect[n], rel_tol=1e-12, abs_tol=1e-12)]
    return [f"graph.Bfs.sssp: node {bad[0]} distance {got[bad[0]]} != {expect[bad[0]]}"] if bad else []


# --------------------------------------------------------------------- gates
def check_gates(result, expectations):
    """Compares each gate's first-round rows with its DuckDB expectation, in
    the canonical form of tools/oracle_check.py."""
    import duckdb
    from oracle_check import canon
    problems = [f"{g}: rows differ between rounds" for g in result["unstable"]]
    for gate, expect in expectations.items():
        path = f"{result['gates_out']}/{gate}"
        if not os.path.isdir(path):
            continue  # the gate never succeeded; counted as failed
        got = canon(duckdb.sql(f"SELECT * FROM '{path}/*.parquet'").df())
        if list(got.columns) != expect["columns"]:
            problems.append(f"{gate}: columns {list(got.columns)} != {expect['columns']}")
        elif [str(t) for t in got.dtypes] != expect["dtypes"]:
            problems.append(f"{gate}: dtypes {[str(t) for t in got.dtypes]} != {expect['dtypes']}")
        elif got.astype(str).values.tolist() != expect["rows"]:
            problems.append(f"{gate}: rows differ from the DuckDB oracle")
    return problems


# ------------------------------------------------------------------ curation
_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def words(text):
    return len(_WS.sub(" ", text.strip(" \t\n\x0b\f\r").lower()).split(" "))


def _survivor_problems(where, rows, docs):
    problems = []
    texts = [t for _, t in rows]
    if any(docs.get(i) != t for i, t in rows):
        problems.append(f"{where}: a survivor is not an input document")
    if any(not 20 <= words(t) <= 100000 for t in texts):
        problems.append(f"{where}: a survivor's word count is outside [20, 100000]")
    if len(set(texts)) != len(texts):
        problems.append(f"{where}: two survivors have identical text")
    return problems


def txlog_snapshot(table):
    live = []
    for f in sorted(glob.glob(f"{table}/_log/*.json")):
        if f.endswith(".checkpoint.json"):
            continue
        with open(f) as fh:
            commit = json.load(fh)
        gone = set(commit.get("remove") or [])
        live = [p for p in live if p not in gone] + list(commit.get("add") or [])
    return live


def check_curation(result, data_dir, batches):
    docs_t = pq.read_table(f"{data_dir}/documents.parquet", columns=["doc_id", "text"])
    docs = dict(zip(docs_t["doc_id"].to_pylist(), docs_t["text"].to_pylist()))
    embs = set(pq.read_table(f"{data_dir}/embeddings.parquet", columns=["vec_id"])["vec_id"].to_pylist())
    out = result["curation_out"]
    problems = []
    for r in range(int(result["rounds"])):
        base = f"{out}/r{r}"
        corpus = ds.dataset(f"{base}/corpus", format="parquet", partitioning="hive").to_table(
            columns=["doc_id", "text", "shard"])
        ids = corpus["doc_id"].to_pylist()
        rows = list(zip(ids, corpus["text"].to_pylist()))
        problems += _survivor_problems(f"round {r} corpus", rows, docs)
        if len(set(ids)) != len(ids) or not set(corpus["shard"].to_pylist()) <= {0, 1, 2, 3}:
            problems.append(f"round {r} corpus: a survivor is not in exactly one of 4 shards")
        codes = pq.read_table(f"{base}/pq_codes")
        code_ids = codes[codes.column_names[0]].to_pylist()
        if sorted(code_ids) != sorted(embs & set(ids)):
            problems.append(f"round {r}: PQ code rows are not one per surviving embedding")
        log = f"{base}/txlog"
        versions = [f for f in glob.glob(f"{log}/_log/*.json") if not f.endswith(".checkpoint.json")]
        if len(versions) != len(batches):
            problems.append(f"round {r}: TxLog has {len(versions)} versions for {len(batches)} batches")
        snap = [pq.read_table(f"{log}/{p}", columns=["doc_id", "text"]) for p in txlog_snapshot(log)]
        srows = [(i, t) for s in snap for i, t in zip(s["doc_id"].to_pylist(), s["text"].to_pylist())]
        appended = [a for a in result["appended"] if a["round"] == r]
        if len(srows) != sum(a["appended"] for a in appended):
            problems.append(f"round {r}: snapshot rows {len(srows)} != appended "
                            f"{sum(a['appended'] for a in appended)}")
        if sorted(a["version"] for a in appended) != list(range(len(batches))):
            problems.append(f"round {r}: batch versions are not 0..{len(batches) - 1}")
        problems += _survivor_problems(f"round {r} txlog", srows, docs)
    return problems
