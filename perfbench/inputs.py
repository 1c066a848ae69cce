"""Seeded inputs of the benchmark's workloads.

The seed generates the road network (`indicators`), the shortest-path
chain and the gate order (`gates`) and the split of the documents into
batches (`curation`). The program receives only the files
written here; the checks recompute expectations from the same values.
"""
import math
import random

import pyarrow as pa
import pyarrow.parquet as pq

# The gates of the `gates` workload, before the seed orders them: iterative
# graph gates (checkpoint, count job and planning every round) and short
# relational, streaming and TxLog gates.
GATES = [
    "qg11_kcore", "qg28_scc", "qg30_sssp", "qg32_weighted_centrality",
    "q1_agg", "q3_join_agg", "q18_shipping_priority", "q28_group_percentile",
    "qe18_stream_dedup_join", "qf14_txlog_cdf",
]

# Road network: a jittered grid with some links removed, plus dead-end spurs.
GRID = 7             # GRID x GRID junctions
DROP = 0.18          # share of grid links removed (connectivity is kept)
SPURS = 10           # dead-end spurs, 1 to 3 ways each
# Shortest-path chain: hop count of the hop-longest optimal path. Even, so
# that maxRounds = CHAIN_HOPS + 1 is the bound the double-stepped loop
# rejects one relax step early.
CHAIN_HOPS = 12
CURATION_BATCHES = 2

EARTH_RADIUS_KM = 6371.0088


def haversine_km(lon1, lat1, lon2, lat2):
    d_lat = math.radians(lat2 - lat1)
    d_lon = math.radians(lon2 - lon1)
    a = math.sin(d_lat / 2) ** 2 + \
        math.cos(math.radians(lat1)) * math.cos(math.radians(lat2)) * math.sin(d_lon / 2) ** 2
    return 2 * EARTH_RADIUS_KM * math.asin(min(1.0, math.sqrt(a)))


def road_network(seed):
    """Returns (nodes, ways): nodes is a list of (osm id, lon, lat) in file
    order, ways a list of dicts with id, refs (osm node ids) and tags.

    The first and the last node of the file are spur tips, so two of the
    three OD points `Pipeline.run` picks sit at dead ends and their spur
    ways cut OD pairs when left out."""
    rnd = random.Random(seed)
    pos = {}
    for r in range(GRID):
        for c in range(GRID):
            pos[(r, c)] = (33.0 + 0.01 * c + rnd.uniform(-0.003, 0.003),
                           -19.0 + 0.01 * r + rnd.uniform(-0.003, 0.003))
    links = [((r, c), (r, c + 1)) for r in range(GRID) for c in range(GRID - 1)] + \
            [((r, c), (r + 1, c)) for r in range(GRID - 1) for c in range(GRID)]
    rnd.shuffle(links)
    keep = set(links)
    for link in links:
        if len(keep) <= len(links) * (1 - DROP):
            break
        keep.discard(link)
        if not _connected(pos, keep):
            keep.add(link)
    # spurs: chains hanging off distinct junctions, pointing outward
    spur_nodes, spur_links = [], []
    anchors = rnd.sample(sorted(pos), SPURS)
    for k, anchor in enumerate(anchors):
        prev = anchor
        lon, lat = pos[anchor]
        ang = rnd.uniform(0, 2 * math.pi)
        for h in range(rnd.randint(1, 3)):
            lon += 0.004 * math.cos(ang) + rnd.uniform(-0.001, 0.001)
            lat += 0.004 * math.sin(ang) + rnd.uniform(-0.001, 0.001)
            key = ("s", k, h)
            pos[key] = (lon, lat)
            spur_nodes.append(key)
            spur_links.append((prev, key))
            prev = key
    # file order: one spur tip first, another last, the rest shuffled
    tips = [n for n in spur_nodes if not any(a == n for a, _ in spur_links)]
    first, last = tips[0], tips[-1]
    middle = [n for n in sorted(pos, key=str) if n not in (first, last)]
    rnd.shuffle(middle)
    order = [first] + middle + [last]
    osm_id = {n: 1000 + i * 7 for i, n in enumerate(order)}
    nodes = [(osm_id[n], round(pos[n][0], 7), round(pos[n][1], 7)) for n in order]
    ways = []
    all_links = sorted(keep, key=str) + spur_links
    rnd.shuffle(all_links)
    for i, (a, b) in enumerate(all_links):
        refs = [osm_id[a], osm_id[b]]
        if rnd.random() < 0.3:
            # a bent way: one shape node in the middle, owned by this way
            la, lb = pos[a], pos[b]
            mid = ("m", i)
            pos[mid] = ((la[0] + lb[0]) / 2 + rnd.uniform(-0.001, 0.001),
                        (la[1] + lb[1]) / 2 + rnd.uniform(-0.001, 0.001))
            osm_id[mid] = 900000 + i
            nodes.insert(len(nodes) - 1, (osm_id[mid], round(pos[mid][0], 7), round(pos[mid][1], 7)))
            refs = [osm_id[a], osm_id[mid], osm_id[b]]
        ways.append({
            "id": 500 + i,
            "refs": refs,
            "tags": {
                "NAME": f"R{500 + i}",
                "RUC": f"{rnd.uniform(0.5, 3.0):.2f}",
                "SURF_TYPE": rnd.choice(["Paved", "Unpaved"]),
                "ROAD_CLASS": rnd.choice(["Primary", "Secondary", "Tertiary", "N/A"]),
            },
        })
    coords = {i: (lon, lat) for i, lon, lat in nodes}
    for w in ways:
        length = sum(haversine_km(*coords[a], *coords[b]) for a, b in zip(w["refs"], w["refs"][1:]))
        w["tags"]["length"] = f"{1000 * length:.1f}"
    return nodes, ways


def _connected(pos, links):
    adj = {n: [] for n in pos if len(n) == 2 and isinstance(n[0], int)}
    for a, b in links:
        adj[a].append(b)
        adj[b].append(a)
    start = next(iter(adj))
    seen, stack = {start}, [start]
    while stack:
        for m in adj[stack.pop()]:
            if m not in seen:
                seen.add(m)
                stack.append(m)
    return len(seen) == len(adj)


def write_osm(nodes, ways, path):
    def esc(s):
        return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace('"', "&quot;")
    out = ['<?xml version="1.0"?>', '<osm version="0.6" generator="graft-perfbench">']
    for i, lon, lat in nodes:
        out.append(f'<node id="{i}" lat="{lat!r}" lon="{lon!r}"/>')
    for w in ways:
        nds = "".join(f'<nd ref="{r}"/>' for r in w["refs"])
        tags = "".join(f'<tag k="{esc(k)}" v="{esc(v)}"/>' for k, v in sorted(w["tags"].items()))
        out.append(f'<way id="{w["id"]}">{nds}{tags}</way>')
    out.append("</osm>")
    with open(path, "w") as f:
        f.write("\n".join(out) + "\n")


def chain(seed):
    """Undirected weighted chain 0 - 1 - ... - CHAIN_HOPS with heavier
    two-hop shortcuts: every optimal path follows the chain, so the
    hop-longest optimal path from node 0 has CHAIN_HOPS hops."""
    rnd = random.Random(seed * 7919 + 1)
    w = [round(rnd.uniform(1.0, 2.0), 3) for _ in range(CHAIN_HOPS)]
    edges = [(i, i + 1, w[i]) for i in range(CHAIN_HOPS)]
    edges += [(i, i + 2, round(w[i] + w[i + 1] + rnd.uniform(0.5, 1.5), 3))
              for i in range(CHAIN_HOPS - 1) if rnd.random() < 0.5]
    return edges


def write_chain(edges, path):
    pq.write_table(pa.table({
        "a": pa.array([a for a, _, _ in edges], pa.int64()),
        "b": pa.array([b for _, b, _ in edges], pa.int64()),
        "w": pa.array([w for _, _, w in edges], pa.float64()),
    }), path)


def gate_order(seed, gates):
    rnd = random.Random(seed * 104729 + 3)
    order = list(gates)
    rnd.shuffle(order)
    return order


def curation_batches(seed, documents_path, out_dir):
    """Splits the documents into CURATION_BATCHES equal batches, assigned
    at random, and writes each as its own parquet file."""
    docs = pq.read_table(documents_path).replace_schema_metadata(None)
    idx = list(range(docs.num_rows))
    random.Random(seed * 15485863 + 5).shuffle(idx)
    paths = []
    for b in range(CURATION_BATCHES):
        part = sorted(idx[b::CURATION_BATCHES])
        path = f"{out_dir}/batch{b}.parquet"
        pq.write_table(docs.take(part), path)
        paths.append(path)
    return paths
