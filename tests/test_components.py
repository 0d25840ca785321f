"""Connected components vs a union-find oracle on random graphs, plus the
adversarial over-cap star-bucket fixture (VERDICT r1 #8)."""

import numpy as np
import pytest

from srpr_lsh_spark.operators.components import connected_components


def _uf_oracle(nodes, edges):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min member
    comp = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    return {n: min(members) for members in comp.values() for n in members}


def _run(spark, nodes, edges, max_iters=25):
    ndf = spark.createDataFrame([(n,) for n in nodes], ["clip_id"])
    if edges:
        edf = spark.createDataFrame(list(edges), ["a", "b"])
    else:
        edf = ndf.select(
            ndf.clip_id.alias("a"), ndf.clip_id.alias("b")
        ).limit(0)
    got = {
        r["clip_id"]: r["cluster_id"]
        for r in connected_components(edf, ndf, max_iters=max_iters).collect()
    }
    return got


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_random_graphs_match_union_find(spark, seed):
    rng = np.random.default_rng(seed)
    n = 120
    nodes = [f"n{i:04d}" for i in range(n)]
    m = int(rng.integers(30, 140))
    edges = {
        tuple(sorted((nodes[int(rng.integers(0, n))], nodes[int(rng.integers(0, n))])))
        for _ in range(m)
    }
    edges = {(a, b) for a, b in edges if a != b}
    assert _run(spark, nodes, edges) == _uf_oracle(nodes, edges)


def test_long_chain(spark):
    """A path graph — worst-case diameter — must still converge in O(log n)."""
    n = 64
    nodes = [f"c{i:03d}" for i in range(n)]
    edges = [(nodes[i], nodes[i + 1]) for i in range(n - 1)]
    got = _run(spark, nodes, edges, max_iters=12)
    assert set(got.values()) == {nodes[0]}


def test_no_edges_all_singletons(spark):
    nodes = [f"s{i}" for i in range(10)]
    got = _run(spark, nodes, [])
    assert got == {x: x for x in nodes}


def test_giant_star(spark):
    """The exact-content short-circuit shape: one hub, many leaves."""
    nodes = [f"h{i:05d}" for i in range(200)]
    edges = [(nodes[0], x) for x in nodes[1:]]
    got = _run(spark, nodes, edges)
    assert set(got.values()) == {nodes[0]}


class TestOverCapStarBucket:
    """Adversarial hot-bucket fixture: a >cap bucket whose MIN anchor is
    dissimilar to every true member. With single-anchor star pairing the
    whole family would be stranded (every (min, member) edge fails exact
    verification); the two-anchor star recovers it via the max anchor."""

    IDS = [f"c{i:02d}" for i in range(20)]

    def _pairs(self, spark, cap=8):
        from srpr_lsh_spark.config import DedupConfig
        from srpr_lsh_spark.operators.banding import candidate_pairs

        cfg = DedupConfig(bucket_pair_cap=cap)
        bands = spark.createDataFrame(
            [(i, 0, 42, "minhash") for i in self.IDS],
            ["clip_id", "band_id", "band_hash", "source"],
        )
        return candidate_pairs(bands, cfg), cfg

    def test_edges_to_both_anchors_linear_count(self, spark):
        pairs, _ = self._pairs(spark)
        got = {(r["a"], r["b"]) for r in pairs.collect()}
        for m in self.IDS[1:]:
            assert ("c00", m) in got, f"missing min-anchor edge for {m}"
        for m in self.IDS[:-1]:
            assert (m, "c19") in got, f"missing max-anchor edge for {m}"
        # O(n) star edges, not the O(n²) all-pairs join
        assert len(got) == 2 * (len(self.IDS) - 1) - 1
        assert len(got) < len(self.IDS) * (len(self.IDS) - 1) / 2

    def test_family_recovered_despite_junk_min_anchor(self, spark):
        from srpr_lsh_spark.operators.verify import verify_text_pairs

        pairs, cfg = self._pairs(spark)
        family = (
            "the quick brown fox jumps over the lazy dog again and again "
            "while the band keeps playing the same old song all night long"
        )
        texts = {"c00": "zzz completely unrelated gibberish qqq www eee rrr ttt yyy"}
        for m in self.IDS[1:]:
            texts[m] = family
        clips = spark.createDataFrame(
            [(i, texts[i]) for i in self.IDS], ["clip_id", "transcript"]
        )
        verified = verify_text_pairs(pairs, clips, cfg)
        nodes = spark.createDataFrame([(i,) for i in self.IDS], ["clip_id"])
        labels = {
            r["clip_id"]: r["cluster_id"]
            for r in connected_components(
                verified.select("a", "b"), nodes
            ).collect()
        }
        # the junk min anchor stays a singleton; the 19 true members cluster
        assert labels["c00"] == "c00"
        family_labels = {labels[m] for m in self.IDS[1:]}
        assert family_labels == {"c01"}


class TestOverCapDisjointFamilies:
    """The case the banding docstring admits CAN strand members (VERDICT r4
    #6): ONE over-cap bucket containing k disjoint near-dup families whose
    members are neither the bucket min nor max. The two-anchor star only
    emits member↔lo and member↔hi edges, so after exact verification kills
    the cross-family edges, only the families containing an anchor survive —
    a measured within-family pair-recall floor of exactly

        recall_floor = (families holding an anchor) / k = 2/k

    when the k families are equal-sized and anchor-disjoint. This pins the
    cap's recall trade quantitatively: at 10¹²-clip scale, a bucket that
    overflows ``bucket_pair_cap`` with MANY DISTINCT-signature families is
    recovered only for the anchor families by this band — recovery of the
    rest must come from other bands/tables (likely, since disjoint families
    that collide in ALL L bands are overwhelmingly improbable for honest
    hash functions) or from a larger cap (all-pairs: recall 1.0, cost
    O(n²)). The full-signature collapse already removes the common mass case
    (identical signatures never reach the capped regime)."""

    K_FAMILIES = 5
    FAMILY_SIZE = 6  # 30 members total, cap below that

    def _ids(self):
        return [
            f"f{f}_m{m:02d}"
            for f in range(self.K_FAMILIES)
            for m in range(self.FAMILY_SIZE)
        ]

    def _recall(self, spark, cap):
        """Within-family pair recall through candidate_pairs + an exact
        verify stand-in (same-family ⇔ passes verification) + CC."""
        from srpr_lsh_spark.config import DedupConfig
        from srpr_lsh_spark.operators.banding import candidate_pairs

        cfg = DedupConfig(bucket_pair_cap=cap)
        ids = self._ids()
        bands = spark.createDataFrame(
            [(i, 0, 7, "simhash") for i in ids],
            ["clip_id", "band_id", "band_hash", "source"],
        )
        fam = lambda cid: cid.split("_")[0]
        pairs = [(r["a"], r["b"]) for r in candidate_pairs(bands, cfg).collect()]
        verified = [(a, b) for a, b in pairs if fam(a) == fam(b)]
        nodes = spark.createDataFrame([(i,) for i in ids], ["clip_id"])
        if verified:
            edges = spark.createDataFrame(verified, ["a", "b"])
        else:
            edges = nodes.select(
                nodes.clip_id.alias("a"), nodes.clip_id.alias("b")
            ).limit(0)
        labels = {
            r["clip_id"]: r["cluster_id"]
            for r in connected_components(edges, nodes).collect()
        }
        # pair recall over the planted within-family pairs
        want = got = 0
        for f in range(self.K_FAMILIES):
            members = [i for i in ids if fam(i) == f"f{f}"]
            for x in range(len(members)):
                for y in range(x + 1, len(members)):
                    want += 1
                    got += labels[members[x]] == labels[members[y]]
        return got / want

    def test_recall_floor_is_two_over_k_under_cap(self, spark):
        floor = self._recall(spark, cap=8)  # bucket size 30 > cap
        assert floor == pytest.approx(2 / self.K_FAMILIES), (
            "two-anchor star must recover exactly the two anchor families "
            f"in the adversarial disjoint-family bucket; measured {floor}"
        )

    def test_cap_above_bucket_size_recovers_all(self, spark):
        assert self._recall(spark, cap=64) == 1.0
