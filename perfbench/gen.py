"""Deterministic generator of resoto-shaped envelope graphs.

One call of `generate(workload, seed, out_dir)` writes everything a run
needs, and nothing else reaches the program:

- model.json: the Kind model export (cloud/account/region/zone kinds, a
  `resource` base, family bases inherited by the leaf kinds, a refined
  simple kind, nested complex kinds, declared successor kinds);
- main.jsonl plus extra0.jsonl / extra1.jsonl: the envelope stream. A
  sync cycle reads main plus one extra file, alternating, so the first
  query after a sync tells the new snapshot from the previous one;
- probe.jsonl, probe_model.json, probe_model_dict_tags.json: a small
  graph of the same shape for the known-defect probes, with its model
  and the same model declaring resoto's real
  `tags: dictionary[string, string]`;
- expected.json: table set, per-table row counts per variant, the query
  sequence and every expected answer.

Everything is derived from `random.Random(seed)`; the same seed gives
byte-identical files.
"""

import hashlib
import json
import os
import random
from collections import defaultdict, deque

# Leaf-kind families: (family base, properties, name prefix for leaves).
# Family bases are not aggregate roots, so they give inheritance without
# tables of their own.
FAMILIES = [
    ("compute_instance", [
        ("instance_cores", "int32"), ("instance_memory", "int64"),
        ("instance_status", "instance_status_enum"),
        ("security_groups", "string[]"), ("placement", "placement")],
     "instance"),
    ("volume", [
        ("volume_size", "int64"), ("volume_type", "string"),
        ("volume_encrypted", "boolean"), ("volume_iops", "int32")],
     "volume"),
    ("network", [
        ("cidr", "string"), ("subnets", "string[]"),
        ("is_default", "boolean")],
     "network"),
    ("database", [
        ("db_engine", "string"), ("db_version", "string"),
        ("db_size", "int64"), ("replicas", "int32")],
     "database"),
    ("bucket", [
        ("object_count", "int64"), ("bucket_acl", "string[]"),
        ("versioning", "boolean")],
     "bucket"),
]
REGIONAL_FAMILY = "bucket"  # attached to a region, not a zone

CARZ = ["cloud", "account", "region", "zone"]
ENVS = ["dev", "prod", "staging"]
OWNERS = ["owner%02d" % i for i in range(16)]
TEAMS = ["team%d" % i for i in range(8)]
SECURITY_GROUPS = ["sg-%02d" % i for i in range(12)]
STATUSES = ["running", "stopped", "terminated"]
VOLUME_TYPES = ["gp2", "gp3", "io1", "st1"]
ENGINES = ["mysql", "postgres", "redis"]

# Workload shapes. `leaves` counts leaf kinds; `nodes` is the approximate
# leaf-node count of main.jsonl; `clouds/accounts/regions/zones` set the
# ancestry fan-out.
SHAPES = {
    "sync_bulk": dict(leaves=2, nodes=16000, clouds=2, accounts=3,
                      regions=3, zones=3, links=1),
    "sync_many_kinds": dict(leaves=8, nodes=3000, clouds=2, accounts=2,
                            regions=3, zones=2, links=1),
    # Small graph of the same shape for the known-defect probes.
    "probe": dict(leaves=2, nodes=40, clouds=1, accounts=1, regions=1,
                  zones=2, links=1),
}


def leaf_kinds(n):
    """Leaf kinds cycle through the families: (fqn, family index)."""
    out = []
    for i in range(n):
        fam = i % len(FAMILIES)
        cloud = "aws" if i % 2 == 0 else "gcp"
        out.append(("%s_%s_%d" % (cloud, FAMILIES[fam][2], i), fam))
    return out


def leaf_successors(leaves, links):
    """Declared leaf -> leaf successors: leaf i declares i+1 and, with
    links=2, i+3. Only the i -> i+1 pair of even i is ever observed."""
    n = len(leaves)
    decl = {}
    for i, (fqn, _) in enumerate(leaves):
        targets = []
        for step in ([1] if links == 1 else [1, 3]):
            j = (i + step) % n
            if j != i and leaves[j][0] not in targets:
                targets.append(leaves[j][0])
        decl[fqn] = targets
    observed = set()
    for i, (fqn, _) in enumerate(leaves):
        j = (i + 1) % n
        if i % 2 == 0 and j != i:
            observed.add((fqn, leaves[j][0]))
    return decl, observed


def base_successor(leaves):
    """The compute family base declares the first volume leaf, so every
    compute leaf inherits that link pair."""
    vols = [f for f, fam in leaves if FAMILIES[fam][0] == "volume"]
    return vols[:1]


def build_model(shape, dict_tags=False):
    leaves = leaf_kinds(shape["leaves"])
    decl, _ = leaf_successors(leaves, shape["links"])
    kinds = [
        {"fqn": "instance_status_enum", "runtime_kind": "string"},
        # Field order is alphabetical: it must match the struct that JSON
        # schema inference produces, since Spark casts structs by position.
        {"fqn": "resource_tags", "aggregate_root": False, "properties": [
            {"name": "env", "kind": "string"},
            {"name": "owner", "kind": "string"},
            {"name": "team", "kind": "string"}]},
        {"fqn": "placement", "aggregate_root": False, "properties": [
            {"name": "group", "kind": "string"},
            {"name": "tenancy", "kind": "string"}]},
        {"fqn": "resource", "aggregate_root": True, "properties": [
            {"name": "id", "kind": "string"},
            {"name": "name", "kind": "string", "metadata": {"len": 64}},
            {"name": "kind", "kind": "string"},
            {"name": "ctime", "kind": "datetime"},
            {"name": "tags", "kind": "dictionary[string, string]"
             if dict_tags else "resource_tags"},
            {"name": "age", "kind": "duration", "synthetic": True}]},
        {"fqn": "cloud", "bases": ["resource"],
         "successor_kinds": {"default": ["account"]}},
        {"fqn": "account", "bases": ["resource"],
         "successor_kinds": {"default": ["region"]}},
        {"fqn": "region", "bases": ["resource"],
         "successor_kinds": {"default": ["zone"]}},
        {"fqn": "zone", "bases": ["resource"],
         "successor_kinds": {"default": [f for f, _ in leaves]}},
    ]
    compute_succ = base_successor(leaves)
    for base, props, _ in FAMILIES:
        k = {"fqn": base, "aggregate_root": False, "bases": ["resource"],
             "properties": [{"name": p, "kind": t} for p, t in props]}
        if base == "compute_instance" and compute_succ:
            k["successor_kinds"] = {"default": compute_succ}
        kinds.append(k)
    for fqn, fam in leaves:
        kinds.append({"fqn": fqn, "bases": [FAMILIES[fam][0]],
                      "successor_kinds": {"default": decl[fqn]}})
    return kinds


def table_name(fqn):
    return fqn.replace(".", "_")


def link_table(f, t):
    return "link_%s_%s" % (table_name(f)[:25], table_name(t)[:25])


class Graph:
    """Generated nodes and edges, kept for computing expected answers."""

    def __init__(self):
        self.nodes = []      # envelope dicts
        self.kind = {}       # id -> kind
        self.edges = []      # (from, to)


def _node(rng, g, kind, idx, anc, fam=None):
    """Append one node envelope; a carz node is its own ancestor at its
    level. Returns the node id."""
    nid = "%s-%06d-%06x" % (kind[:3], idx, rng.getrandbits(24))
    if kind in CARZ:
        anc = dict(anc, **{kind: nid})
    rep = {"kind": kind, "id": nid, "name": "%s-%d" % (kind, idx),
           "ctime": "2024-%02d-%02dT%02d:00:00Z" % (
               rng.randint(1, 12), rng.randint(1, 28), rng.randint(0, 23)),
           "tags": {"env": rng.choice(ENVS), "owner": rng.choice(OWNERS),
                    "team": rng.choice(TEAMS)}}
    if fam is not None:
        base = FAMILIES[fam][0]
        if base == "compute_instance":
            rep["instance_cores"] = rng.choice([1, 2, 4, 8, 16, 32])
            rep["instance_memory"] = rng.choice([1, 2, 4, 8, 16, 64]) * 1024
            rep["instance_status"] = rng.choice(STATUSES)
            rep["security_groups"] = sorted(rng.sample(SECURITY_GROUPS,
                                                       rng.randint(1, 3)))
            rep["placement"] = {"group": "pg-%d" % rng.randint(0, 9),
                                "tenancy": rng.choice(["default", "dedicated"])}
        elif base == "volume":
            rep["volume_size"] = rng.randint(1, 2000)
            rep["volume_type"] = rng.choice(VOLUME_TYPES)
            rep["volume_encrypted"] = rng.random() < 0.5
            rep["volume_iops"] = rng.choice([100, 3000, 16000])
        elif base == "network":
            rep["cidr"] = "10.%d.0.0/16" % rng.randint(0, 255)
            rep["subnets"] = ["sn-%d" % rng.randint(0, 99)
                              for _ in range(rng.randint(1, 4))]
            rep["is_default"] = rng.random() < 0.1
        elif base == "database":
            rep["db_engine"] = rng.choice(ENGINES)
            rep["db_version"] = "%d.%d" % (rng.randint(5, 16), rng.randint(0, 9))
            rep["db_size"] = rng.randint(1, 10 ** 6)
            rep["replicas"] = rng.randint(0, 3)
        else:
            rep["object_count"] = rng.randint(0, 10 ** 7)
            rep["bucket_acl"] = sorted(rng.sample(["private", "public-read",
                                                   "log-delivery", "owner"],
                                                  rng.randint(1, 2)))
            rep["versioning"] = rng.random() < 0.3
    ancestors = {c: {"reported": {"id": anc[c], "name": anc[c]}}
                 for c in CARZ if anc.get(c)}
    env = {"type": "node", "id": nid, "reported": rep, "ancestors": ancestors}
    g.nodes.append(env)
    g.kind[nid] = kind
    return nid


def build_graph(rng, shape, n_leaf_nodes):
    """Carz hierarchy plus leaf nodes, round-robin over leaf kinds, each
    under a zone (or, for the regional family, a region), plus observed
    leaf -> leaf edges. Returns the graph and its (zones, regions)."""
    g = Graph()
    leaves = leaf_kinds(shape["leaves"])
    _, observed = leaf_successors(leaves, shape["links"])
    zones, regions = [], []
    idx = 0
    for _ in range(shape["clouds"]):
        cl = _node(rng, g, "cloud", idx, {}); idx += 1
        for _ in range(shape["accounts"]):
            ac = _node(rng, g, "account", idx, {"cloud": cl}); idx += 1
            g.edges.append((cl, ac))
            for _ in range(shape["regions"]):
                anc = {"cloud": cl, "account": ac}
                rg = _node(rng, g, "region", idx, anc); idx += 1
                g.edges.append((ac, rg))
                anc = dict(anc, region=rg)
                regions.append(anc)
                for _ in range(shape["zones"]):
                    zn = _node(rng, g, "zone", idx, anc); idx += 1
                    g.edges.append((rg, zn))
                    zones.append(dict(anc, zone=zn))
    by_kind = defaultdict(list)
    for i in range(n_leaf_nodes):
        li = i % len(leaves)
        fqn, fam = leaves[li]
        if FAMILIES[fam][0] == REGIONAL_FAMILY:
            anc = rng.choice(regions)
            parent = anc["region"]
        else:
            anc = rng.choice(zones)
            parent = anc["zone"]
        nid = _node(rng, g, fqn, i, anc, fam)
        g.edges.append((parent, nid))
        by_kind[fqn].append(nid)
    for f, t in sorted(observed):
        targets = by_kind.get(t)
        if not targets:
            continue
        for nid in by_kind.get(f, []):
            g.edges.append((nid, rng.choice(targets)))
    return g, (zones, regions)


def write_jsonl(path, g):
    with open(path, "w", encoding="utf-8") as out:
        for n in g.nodes:
            out.write(json.dumps(n, separators=(",", ":")))
            out.write("\n")
        for f, t in g.edges:
            out.write('{"type":"edge","from":"%s","to":"%s",'
                      '"edge_type":"default"}\n' % (f, t))


def expected_tables(shape, kind_of, edges):
    """Table set and row counts exactly as the model dictates: a table per
    concrete aggregate-root kind, a link table per declared pair (own or
    inherited successors, both endpoints tables) and per observed pair."""
    leaves = leaf_kinds(shape["leaves"])
    table_kinds = CARZ + [f for f, _ in leaves]
    decl, _ = leaf_successors(leaves, shape["links"])
    declared = {("cloud", "account"), ("account", "region"), ("region", "zone")}
    declared |= {("zone", f) for f, _ in leaves}
    compute_succ = base_successor(leaves)
    for f, fam in leaves:
        declared |= {(f, t) for t in decl[f]}
        if FAMILIES[fam][0] == "compute_instance":
            declared |= {(f, t) for t in compute_succ}
    counts = {table_name(k): 0 for k in table_kinds}
    for k in kind_of.values():
        counts[table_name(k)] += 1
    pair_counts = defaultdict(int)
    for f, t in edges:
        pair_counts[(kind_of[f], kind_of[t])] += 1
    for f, t in declared | set(pair_counts):
        counts[link_table(f, t)] = pair_counts.get((f, t), 0)
    return counts


def canonical(rows):
    """Digest of a result: rows rendered tab-separated (null as \\N),
    sorted, newline-joined, SHA-256. The harness renders the same way."""
    lines = sorted("\t".join("\\N" if v is None else
                             ("true" if v is True else
                              "false" if v is False else str(v)) for v in r)
                   for r in rows)
    return {"rows": len(lines),
            "digest": hashlib.sha256("\n".join(lines).encode()).hexdigest()}


def _reach(adj, roots, lo, hi):
    """Nodes whose shortest distance from `roots` lies in [lo, hi]."""
    dist = {r: 0 for r in roots}
    q = deque(roots)
    while q:
        u = q.popleft()
        if dist[u] >= hi:
            continue
        for v in adj.get(u, ()):
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    return {n for n, d in dist.items() if lo <= d <= hi}


def build_queries(rng, g, shape):
    """The fixed, seeded query sequence with expected answers on graph g:
    one instance of each SQL and each search template."""
    leaves = leaf_kinds(shape["leaves"])
    inst = [f for f, fam in leaves if FAMILIES[fam][0] == "compute_instance"][0]
    vol = [f for f, fam in leaves if FAMILIES[fam][0] == "volume"][0]
    link = link_table(inst, vol)
    rep = {n["id"]: n["reported"] for n in g.nodes}
    anc = {n["id"]: {c: n["ancestors"].get(c, {}).get("reported", {}).get("id")
                     for c in CARZ} for n in g.nodes}
    ids = {k: sorted(i for i, kk in g.kind.items() if kk == k)
           for k in set(g.kind.values())}
    adj = defaultdict(list)
    for f, t in g.edges:
        adj[f].append(t)
    sql, search = [], []
    accounts = ids["account"]
    pid = rng.choice(ids[inst])
    p = rep[pid]
    sql.append({"id": "point_lookup", "sql":
                "SELECT _id, name, instance_cores, cloud, account, region, "
                "zone FROM %s WHERE _id = '%s'" % (inst, pid),
                "expect": canonical([(pid, p["name"], p["instance_cores"])
                                     + tuple(anc[pid][c] for c in CARZ)])})
    counts = defaultdict(int)
    for i in ids[vol]:
        counts[(anc[i]["cloud"], anc[i]["account"], anc[i]["region"])] += 1
    sql.append({"id": "ancestry_groupby", "sql":
                "SELECT cloud, account, region, count(*) AS n FROM %s "
                "GROUP BY cloud, account, region" % vol,
                "expect": canonical([k + (v,) for k, v in counts.items()])})
    acct = rng.choice(accounts)
    agg = defaultdict(lambda: [0, 0])
    for f, t in g.edges:
        if g.kind[f] == inst and g.kind[t] == vol and anc[f]["account"] == acct:
            a = agg[anc[f]["region"]]
            a[0] += 1
            a[1] += rep[t]["volume_size"]
    sql.append({"id": "link_join", "sql":
                "SELECT i.region, count(*) AS n, sum(v.volume_size) AS total "
                "FROM %s i JOIN %s l ON l.from_id = i._id JOIN %s v "
                "ON v._id = l.to_id WHERE i.account = '%s' "
                "GROUP BY i.region" % (inst, link, vol, acct),
                "expect": canonical([(k, a[0], a[1]) for k, a in agg.items()])})
    top = sorted(ids[vol], key=lambda i: (-rep[i]["volume_size"], i))[:10]
    sql.append({"id": "top_k", "sql":
                "SELECT _id, volume_size FROM %s "
                "ORDER BY volume_size DESC, _id LIMIT 10" % vol,
                "expect": canonical([(i, rep[i]["volume_size"]) for i in top])})
    sg = rng.choice(SECURITY_GROUPS)
    n = sum(1 for i in ids[inst] if sg in rep[i]["security_groups"])
    sql.append({"id": "array_filter", "sql":
                "SELECT count(*) AS n FROM %s "
                "WHERE array_contains(security_groups, '%s')" % (inst, sg),
                "expect": canonical([(n,)])})
    env = rng.choice(ENVS)
    teams = defaultdict(int)
    for i in ids[inst]:
        if rep[i]["tags"]["env"] == env:
            teams[rep[i]["tags"]["team"]] += 1
    sql.append({"id": "nested_groupby", "sql":
                "SELECT tags.team, count(*) AS n FROM %s "
                "WHERE tags.env = '%s' GROUP BY tags.team" % (inst, env),
                "expect": canonical([(k, v) for k, v in teams.items()])})

    kind = rng.choice(sorted(f for f, _ in leaves))
    search.append({"id": "is_kind", "q": "is(%s)" % kind,
                   "expect": canonical([(i,) for i in ids[kind]])})
    cores = rng.choice([4, 8, 16])
    env = rng.choice(ENVS)
    hit = [i for i in ids[inst] if rep[i]["instance_cores"] >= cores
           and rep[i]["tags"]["env"] == env]
    search.append({"id": "property_filter", "q":
                   'is(%s) and instance_cores >= %d and tags.env == "%s"'
                   % (inst, cores, env),
                   "expect": canonical([(i,) for i in hit])})
    zone = rng.choice(ids["zone"])
    search.append({"id": "traverse_1", "q":
                   'is(zone) and id == "%s" -[1:1]->' % zone,
                   "expect": canonical([(i,) for i in
                                        _reach(adj, [zone], 1, 1)])})
    region = rng.choice(ids["region"])
    hit = [i for i in _reach(adj, [region], 1, 2) if g.kind[i] == vol]
    search.append({"id": "traverse_2", "q":
                   'is(region) and name == "%s" -[1:2]-> is(%s)'
                   % (rep[region]["name"], vol),
                   "expect": canonical([(i,) for i in hit])})
    return sql, search


def generate(workload, seed, out_dir):
    """Write the inputs of (workload, seed) into out_dir; return the
    expected-answer document."""
    shape = SHAPES[workload]
    rng = random.Random("%s:%d" % (workload, seed))
    os.makedirs(out_dir, exist_ok=True)
    leaves = leaf_kinds(shape["leaves"])
    g, (zones, _) = build_graph(rng, shape, shape["nodes"])
    write_jsonl(os.path.join(out_dir, "main.jsonl"), g)
    # Marker nodes of the first leaf kind: extra0 has 3, extra1 has 4.
    variants = []
    for v in (0, 1):
        sub = Graph()
        for j in range(3 + v):
            anc = zones[j % len(zones)]
            nid = _node(rng, sub, leaves[0][0], 10 ** 6 * (v + 1) + j, anc,
                        leaves[0][1])
            sub.edges.append((anc["zone"], nid))
        write_jsonl(os.path.join(out_dir, "extra%d.jsonl" % v), sub)
        whole = Graph()
        whole.nodes, whole.edges = g.nodes + sub.nodes, g.edges + sub.edges
        whole.kind = dict(g.kind, **sub.kind)
        variants.append((whole, expected_tables(shape, whole.kind, whole.edges)))
    with open(os.path.join(out_dir, "model.json"), "w") as f:
        json.dump(build_model(shape), f, indent=1)
    pshape = SHAPES["probe"]
    pg, _ = build_graph(random.Random("probe:%d" % seed), pshape,
                        pshape["nodes"])
    write_jsonl(os.path.join(out_dir, "probe.jsonl"), pg)
    for name, dict_tags in (("probe_model.json", False),
                            ("probe_model_dict_tags.json", True)):
        with open(os.path.join(out_dir, name), "w") as f:
            json.dump(build_model(pshape, dict_tags), f, indent=1)
    # Queries run on the snapshot of whichever variant was synced last,
    # so each has an expected answer per variant, with the same parameters.
    per_variant = [build_queries(random.Random("queries:%s:%d" % (workload, seed)),
                                 whole, shape) for whole, _ in variants]
    sql, search = per_variant[0]
    for i, q in enumerate(sql + search):
        other = (per_variant[1][0] + per_variant[1][1])[i]
        assert other.get("sql", other.get("q")) == q.get("sql", q.get("q"))
        q["index"] = i
        q["expect"] = [q["expect"], other["expect"]]
    counts = [c for _, c in variants]
    first = table_name(leaves[0][0])
    expected = {
        "workload": workload, "seed": seed,
        "tables": sorted(counts[0]),
        "observed_pairs": sorted(
            {(variants[0][0].kind[f], variants[0][0].kind[t])
             for f, t in variants[0][0].edges}),
        "row_counts": counts,
        "first_query": {"sql": "SELECT count(*) AS n FROM %s" % first,
                        "expect": [canonical([(c[first],)]) for c in counts]},
        "sql": sql, "search": search,
        "input_bytes": [os.path.getsize(os.path.join(out_dir, "main.jsonl")) +
                        os.path.getsize(os.path.join(out_dir, "extra%d.jsonl" % v))
                        for v in (0, 1)],
    }
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    return expected
