"""Seeded generator for the synthetic cloud-infrastructure graph that the
sync workloads feed through the loopback graph server.

The kind model is fixed by the kind count alone: one abstract base
(`bench_resource`) and `n_kinds` concrete kinds whose declared successor
kinds form a 4-ary tree (kind i declares kinds 4i+1 .. 4i+4). The seed
decides the rest: which linked kind gets which Zipf row count, node ids,
names, property values, ancestry placement and which parent node each
edge starts from. Node and edge counts do not depend on the seed. Every eighth kind (5, 13, 21, ...) never receives an
edge, so its declared link table must exist and be empty after a sync.

Resync generations (`generation` 0 and 1) share ids and edges but differ
in names, in one property value and in a seeded tenth of the nodes that
generation 1 drops, so every catalog answer tells which generation it
came from.
"""
import json
import random

BASE = "bench_resource"
EXTRA_PROPS = (("size", "int64"), ("cost", "double"),
               ("enabled", "boolean"), ("labels", "string[]"))
ACCOUNTS, REGIONS, ZONES = 3, 4, 2


def kind_names(n_kinds):
    return [f"bench_kind_{i:03d}" for i in range(n_kinds)]


def parent_of(i):
    return (i - 1) // 4 if i > 0 else None


def unobserved(i):
    """Tree kinds whose declared incoming link never gets an edge."""
    return i % 8 == 5


def link_table(parent, child):
    """Link-table name of a (from, to) kind pair, as the sync names it."""
    return f"link_{parent[:25]}_{child[:25]}"


def model(n_kinds):
    names = kind_names(n_kinds)
    kinds = [{"fqn": BASE, "aggregate_root": False, "bases": [],
              "successors": [],
              "props": [["id", "string"], ["name", "string"],
                        ["kind", "string"], ["age", "int64"]]}]
    for i, k in enumerate(names):
        kinds.append({
            "fqn": k, "aggregate_root": True, "bases": [BASE],
            "props": [list(EXTRA_PROPS[i % len(EXTRA_PROPS)])],
            "successors": [names[c] for c in range(4 * i + 1, 4 * i + 5)
                           if c < n_kinds]})
    return {"kinds": kinds}


def zipf_counts(n_nodes, n_kinds):
    """Rows per Zipf rank (exponent 1); every rank gets at least one row
    and the counts sum to exactly `n_nodes`."""
    h = sum(1.0 / (r + 1) for r in range(n_kinds))
    counts = [max(1, int(n_nodes / h / (r + 1))) for r in range(n_kinds)]
    counts[0] += n_nodes - sum(counts)
    if counts[0] < 1:
        raise ValueError("n_nodes must be at least n_kinds")
    return counts


class Graph:
    """One seeded graph: nodes, edges and both generations' answers."""

    def __init__(self, seed, n_kinds, n_nodes):
        self.n_kinds = n_kinds
        self.names = kind_names(n_kinds)
        rng = random.Random(seed)
        # The seed shuffles the Zipf ranks of the kinds that receive
        # edges. The root kind and the never-linked kinds keep fixed ranks,
        # so every seed's graph has the same node and edge counts.
        fixed = [0] + [i for i in range(n_kinds) if unobserved(i)]
        free = [i for i in range(n_kinds) if i not in fixed]
        shuffled = list(range(1, len(free) + 1))
        rng.shuffle(shuffled)
        ranks = [0] * n_kinds
        for i, r in zip(free, shuffled):
            ranks[i] = r
        for r, i in enumerate(fixed[1:], start=len(free) + 1):
            ranks[i] = r
        counts = zipf_counts(n_nodes, n_kinds)
        self.zones = [(a, r, z) for a in range(ACCOUNTS)
                      for r in range(REGIONS) for z in range(ZONES)]
        # node: (id, kind index, zone index, age, extra value, dropped in g1)
        self.nodes = []
        self.by_kind = [[] for _ in range(n_kinds)]
        j = 0
        for i in range(n_kinds):
            for _ in range(counts[ranks[i]]):
                extra = self._extra(rng, i)
                node = (f"n{j:06d}-{rng.getrandbits(32):08x}", i,
                        rng.randrange(len(self.zones)), rng.randrange(1000),
                        extra, rng.random() < 0.1)
                self.by_kind[i].append(len(self.nodes))
                self.nodes.append(node)
                j += 1
        self.edges = []  # (parent node index, child node index)
        for i in range(1, n_kinds):
            if unobserved(i):
                continue
            parents = self.by_kind[parent_of(i)]
            for c in self.by_kind[i]:
                self.edges.append((parents[rng.randrange(len(parents))], c))

    @staticmethod
    def _extra(rng, i):
        name = EXTRA_PROPS[i % len(EXTRA_PROPS)][0]
        if name == "size":
            return rng.randrange(1 << 40)
        if name == "cost":
            return round(rng.random() * 1000, 3)
        if name == "enabled":
            return rng.random() < 0.5
        return [f"l{rng.randrange(50)}" for _ in range(rng.randrange(1, 4))]

    def live(self, generation, n):
        return generation == 0 or not self.nodes[n][5]

    def ancestry_ids(self, zone):
        a, r, z = self.zones[zone]
        return ("cloud-0", f"account-{a}", f"region-{a}-{r}",
                f"zone-{a}-{r}-{z}")

    def node_name(self, generation, n):
        node_id, i = self.nodes[n][0], self.nodes[n][1]
        return f"g{generation}-{self.names[i]}-{node_id}"

    def ndjson_lines(self, generation):
        ancestry_nodes = [("graph_root", "root"), ("cloud", "cloud-0")]
        for a in range(ACCOUNTS):
            ancestry_nodes.append(("account", f"account-{a}"))
            for r in range(REGIONS):
                ancestry_nodes.append(("region", f"region-{a}-{r}"))
                for z in range(ZONES):
                    ancestry_nodes.append(("zone", f"zone-{a}-{r}-{z}"))
        for kind, node_id in ancestry_nodes:
            yield _dumps({"type": "node", "id": node_id,
                          "reported": {"kind": kind, "id": node_id,
                                       "name": node_id}})
        for n, (node_id, i, zone, age, extra, _) in enumerate(self.nodes):
            if not self.live(generation, n):
                continue
            extra_name = EXTRA_PROPS[i % len(EXTRA_PROPS)][0]
            reported = {"kind": self.names[i], "id": node_id,
                        "name": self.node_name(generation, n),
                        "age": age + generation, extra_name: extra}
            ids = self.ancestry_ids(zone)
            yield _dumps({"type": "node", "id": node_id,
                          "reported": reported,
                          "ancestors": {c: {"reported": {"id": v}} for c, v
                                        in zip(("cloud", "account", "region",
                                                "zone"), ids)}})
        yield _dumps({"type": "edge", "from": "root", "to": "cloud-0",
                      "edge_type": "default"})
        for a in range(ACCOUNTS):
            yield _dumps({"type": "edge", "from": "cloud-0",
                          "to": f"account-{a}", "edge_type": "default"})
            for r in range(REGIONS):
                yield _dumps({"type": "edge", "from": f"account-{a}",
                              "to": f"region-{a}-{r}",
                              "edge_type": "default"})
                for z in range(ZONES):
                    yield _dumps({"type": "edge", "from": f"region-{a}-{r}",
                                  "to": f"zone-{a}-{r}-{z}",
                                  "edge_type": "default"})
        for p, c in self.edges:
            if self.live(generation, p) and self.live(generation, c):
                yield _dumps({"type": "edge", "from": self.nodes[p][0],
                              "to": self.nodes[c][0],
                              "edge_type": "default"})

    def table_counts(self, generation):
        counts = {k: sum(1 for n in self.by_kind[i]
                         if self.live(generation, n))
                  for i, k in enumerate(self.names)}
        for i in range(1, self.n_kinds):
            counts[link_table(self.names[parent_of(i)], self.names[i])] = 0
        for p, c in self.edges:
            if self.live(generation, p) and self.live(generation, c):
                i = self.nodes[c][1]
                counts[link_table(self.names[parent_of(i)],
                                  self.names[i])] += 1
        return counts

    def empty_link_tables(self):
        return sorted(link_table(self.names[parent_of(i)], self.names[i])
                      for i in range(1, self.n_kinds) if unobserved(i))

    def reads(self, seed, n_reads, generations):
        """A fixed closed-loop read set cycling through an `_id` lookup, a
        link-table join from a parent node and a per-region group-by. Each read carries its expected rows per generation;
        only nodes live in every generation are looked up."""
        rng = random.Random(seed * 7919 + 1)
        stable = [n for n in range(len(self.nodes))
                  if all(self.live(g, n) for g in generations)]
        children = {}  # (parent node, child kind) -> child nodes
        for p, c in self.edges:
            children.setdefault((p, self.nodes[c][1]), []).append(c)
        parents = [key for key in sorted(children)
                   if all(self.live(g, key[0]) for g in generations)]
        out = []
        for r in range(n_reads):
            shape = ("lookup", "join", "group")[r % 3]
            if shape == "lookup":
                n = stable[rng.randrange(len(stable))]
                node_id, i, zone = self.nodes[n][:3]
                sql = (f"SELECT _id, name, region FROM {self.names[i]} "
                       "WHERE _id = :id")
                expect = {str(g): [[node_id, self.node_name(g, n),
                                    self.ancestry_ids(zone)[2]]]
                          for g in generations}
                binds = {"id": node_id}
            elif shape == "join":
                p, ci = parents[rng.randrange(len(parents))]
                pi = self.nodes[p][1]
                child = self.names[ci]
                sql = (f"SELECT c._id, c.name FROM "
                       f"{link_table(self.names[pi], child)} l JOIN {child} c"
                       " ON c._id = l.to_id WHERE l.from_id = :id"
                       " ORDER BY c._id")
                expect = {str(g): sorted(
                    [self.nodes[c][0], self.node_name(g, c)]
                    for c in children[(p, ci)] if self.live(g, c))
                    for g in generations}
                binds = {"id": self.nodes[p][0]}
            else:
                i = rng.randrange(self.n_kinds)
                sql = (f"SELECT region, count(*) AS n, max(age) AS a FROM "
                       f"{self.names[i]} GROUP BY region ORDER BY region")
                expect = {}
                for g in generations:
                    per = {}
                    for n in self.by_kind[i]:
                        if self.live(g, n):
                            region = self.ancestry_ids(self.nodes[n][2])[2]
                            cnt, age = per.get(region, (0, -1))
                            per[region] = (cnt + 1,
                                           max(age, self.nodes[n][3] + g))
                    expect[str(g)] = [[k, str(v[0]), str(v[1])]
                                      for k, v in sorted(per.items())]
                binds = {}
            out.append({"shape": shape, "sql": sql, "binds": binds,
                        "expect": expect})
        return out


def _dumps(obj):
    return json.dumps(obj, separators=(",", ":"))


def write_inputs(out_dir, seed, n_kinds, n_nodes, generations, n_reads):
    """Write the model, one ndjson file per generation, the expected
    table counts and the read set into `out_dir`; return the summary."""
    import os
    os.makedirs(out_dir, exist_ok=True)
    g = Graph(seed, n_kinds, n_nodes)
    envelopes = {}
    for gen in generations:
        with open(os.path.join(out_dir, f"g{gen}.ndjson"), "w") as f:
            n = 0
            for line in g.ndjson_lines(gen):
                f.write(line)
                f.write("\n")
                n += 1
        envelopes[str(gen)] = n
    expect = {"envelopes": envelopes,
              "counts": {str(gen): g.table_counts(gen)
                         for gen in generations},
              "empty_link_tables": g.empty_link_tables()}
    with open(os.path.join(out_dir, "model.json"), "w") as f:
        json.dump(model(n_kinds), f)
    with open(os.path.join(out_dir, "expect.json"), "w") as f:
        json.dump(expect, f, sort_keys=True)
    with open(os.path.join(out_dir, "reads.json"), "w") as f:
        json.dump(g.reads(seed, n_reads, generations), f)
    return expect
