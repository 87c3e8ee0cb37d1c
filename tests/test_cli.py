"""CLI surface (webgraph_spark/cli.py): each subcommand is a thin
dispatch to library functions already tested elsewhere — here we check
the argparse wiring, I/O plumbing, and JSON emission end-to-end on a
tiny graph, the way the reference's main() classes are driven."""

from __future__ import annotations

import json

import pytest

from webgraph_spark.cli import main

# directed 4-cycle + chord + pendant: 0->1->2->3->0, 0->2, 3->4
ARCS = [(0, 1), (1, 2), (2, 3), (3, 0), (0, 2), (3, 4)]


@pytest.fixture(scope="module")
def edges_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("cli") / "edges")
    spark.createDataFrame(ARCS, "src long, dst long").write.parquet(p)
    return p


def _json_lines(capsys):
    return [json.loads(l) for l in capsys.readouterr().out.splitlines() if l]


def test_stats_and_check(spark, edges_path, capsys):
    assert main(["stats", "-i", edges_path]) == 0
    row = _json_lines(capsys)[0]
    assert row["nodes"] == 5 and row["arcs"] == 6
    assert main(["check", "-i", edges_path]) == 0
    assert _json_lines(capsys)[0]["symmetric"] is False


def test_transform_transpose_roundtrip(spark, edges_path, tmp_path, capsys):
    out = str(tmp_path / "t")
    back = str(tmp_path / "tt")
    assert main(["transform", "transpose", "-i", edges_path, "-o", out]) == 0
    assert main(["transform", "transpose", "-i", out, "-o", back]) == 0
    got = sorted(
        (r.src, r.dst) for r in spark.read.parquet(back).collect()
    )
    assert got == sorted(ARCS)


def test_pack_unpack_csr(spark, edges_path, tmp_path, capsys):
    blocks = str(tmp_path / "csr")
    assert main(["pack", "--format", "csr", "-i", edges_path, "-o", blocks]) == 0
    assert _json_lines(capsys)[0]["format"] == "csr"
    out = str(tmp_path / "back")
    assert main(["unpack", "--format", "csr", "-i", blocks, "-o", out]) == 0
    got = sorted((r.src, r.dst) for r in spark.read.parquet(out).collect())
    assert got == sorted(ARCS)


def test_pagerank_and_cc(spark, edges_path, tmp_path, capsys):
    ranks = str(tmp_path / "pr")
    assert main(["pagerank", "-i", edges_path, "-o", ranks]) == 0
    info = _json_lines(capsys)[-1]
    assert info["converged"] is True
    pr = {r.node: r.rank for r in spark.read.parquet(ranks).collect()}
    assert abs(sum(pr.values()) - 1.0) < 1e-9 and len(pr) == 5

    assert main(["cc", "-i", edges_path]) == 0
    lines = _json_lines(capsys)
    labels = {l["node"]: l["component"] for l in lines[:-1]}
    assert set(labels.values()) == {0}  # one weak component, min-id 0


def test_triangles_bfs_nf(spark, edges_path, capsys):
    assert main(["triangles", "-i", edges_path]) == 0
    # undirected support triangles: {0,1,2}, {0,2,3}
    assert _json_lines(capsys)[0]["triangles"] == 2
    assert main(["triangles", "--per-node", "-i", edges_path]) == 0
    per = {l["node"]: l["triangles"] for l in _json_lines(capsys)}
    # only triangle-participating nodes appear: {0,1,2,3}, not pendant 4
    assert per[0] == 2 and per[2] == 2 and 4 not in per
    assert main(["bfs", "-i", edges_path, "--root", "0"]) == 0
    lines = _json_lines(capsys)
    dists = {l["node"]: l["dist"] for l in lines[:-1]}
    assert dists[0] == 0 and dists[2] == 1 and dists[4] == 3
    assert main(["nf", "-i", edges_path, "--max-t", "6"]) == 0
    nf = _json_lines(capsys)[0]["nf"]
    assert nf[0] == 5 and nf[-1] >= nf[0]


def test_sumsweep_and_topk(spark, edges_path, capsys):
    assert main(["sumsweep", "-i", edges_path, "--undirected"]) == 0
    res = _json_lines(capsys)[0]
    assert res["diameter"] == 3 and res["certified"] is True
    assert main(["top-k", "-i", edges_path, "--k", "2"]) == 0
    assert len(_json_lines(capsys)) == 2


def test_arclist_and_dot_and_er(spark, edges_path, tmp_path, capsys):
    txt = str(tmp_path / "arcs.tsv")
    assert main(["arclist", "export", "-i", edges_path, "-o", txt]) == 0
    imported = str(tmp_path / "imported")
    assert main(["arclist", "import", "-i", txt, "-o", imported]) == 0
    got = sorted(
        (r.src, r.dst) for r in spark.read.parquet(imported).collect()
    )
    assert got == sorted(ARCS)

    dot = str(tmp_path / "g.dot")
    assert main(["to-dot", "-i", edges_path, "-o", dot]) == 0
    body = open(dot).read()
    assert "digraph" in body and "0 -> 1" in body

    er = str(tmp_path / "er")
    assert main(["erdosrenyi", "--n", "30", "--p", "0.1", "--seed", "3",
                 "-o", er]) == 0
    n1 = spark.read.parquet(er).count()
    assert main(["erdosrenyi", "--n", "30", "--p", "0.1", "--seed", "3",
                 "-o", er]) == 0
    assert spark.read.parquet(er).count() == n1  # deterministic


def test_pack_bits_stats(spark, edges_path, tmp_path, capsys):
    blocks = str(tmp_path / "efb")
    assert main(["pack", "--format", "ef", "--bits", "-i", edges_path,
                 "-o", blocks]) == 0
    info = _json_lines(capsys)[0]
    assert info["n_arcs"] == 6 and info["bits_per_link"] > 0


def test_generate_ingest_pipeline(spark, tmp_path, capsys):
    tr = str(tmp_path / "tr")
    ed = str(tmp_path / "ed")
    nd = str(tmp_path / "nd")
    assert main(["generate-transcripts", "--n-convs", "50", "-o", tr]) == 0
    assert _json_lines(capsys)[0]["turns"] > 0
    assert main(["ingest", "-i", tr, "-o", ed, "--nodes-out", nd]) == 0
    info = _json_lines(capsys)[-1]
    assert info["nodes"] > 0 and info["arcs"] > 0
    e = spark.read.parquet(ed)
    assert set(e.columns) == {"src", "dst", "kind"}
    assert main(["pagerank", "-i", ed]) == 0
    assert _json_lines(capsys)[-1]["converged"] is True


def test_scc_lp_hyperball(spark, edges_path, capsys):
    assert main(["scc", "-i", edges_path]) == 0
    comp = {l["node"]: l["scc"] for l in _json_lines(capsys)}
    # 0,1,2,3 form a cycle (one SCC); 4 is its own
    assert comp[0] == comp[1] == comp[2] == comp[3] != comp[4]

    assert main(["lp", "-i", edges_path]) == 0
    lines = _json_lines(capsys)
    assert len(lines[:-1]) == 5  # a label for every node

    assert main(["hyperball", "-i", edges_path, "--log2m", "4",
                 "--max-t", "8"]) == 0
    res = _json_lines(capsys)[0]
    assert res["converged"] is True and abs(res["nf"][0] - 5) < 1.0


def test_centrality_commands(spark, edges_path, capsys):
    assert main(["geometric-centralities", "-i", edges_path,
                 "--sources", "0,3"]) == 0
    assert len(_json_lines(capsys)) == 2
    assert main(["betweenness", "-i", edges_path]) == 0
    bc = {l["node"]: l["betweenness"] for l in _json_lines(capsys)}
    assert len(bc) == 5 and bc[4] == 0.0  # sink pendant lies on no path
    assert main(["distance-cdf", "-i", edges_path, "--sources", "0"]) == 0
    assert len(_json_lines(capsys)) >= 1


def test_transform_variants(spark, edges_path, tmp_path, capsys):
    for op in ["symmetrize", "simplify", "no-loops", "line-graph"]:
        assert main(["transform", op, "-i", edges_path]) == 0
        assert len(_json_lines(capsys)) > 0
    for op in ["gray", "lex", "degree-order", "random-perm"]:
        perm = str(tmp_path / f"perm_{op}")
        assert main(["transform", op, "-i", edges_path,
                     "--perm-out", perm]) == 0
        _json_lines(capsys)
        assert spark.read.parquet(perm).count() == 5
    assert main(["transform", "degree-range", "-i", edges_path,
                 "--min-deg", "1", "--max-deg", "10"]) == 0
    _json_lines(capsys)
    # map: identity mapping keeps the arc set
    ident = str(tmp_path / "ident")
    spark.createDataFrame(
        [(i, i) for i in range(5)], "node long, target long"
    ).write.parquet(ident)
    out = str(tmp_path / "mapped")
    assert main(["transform", "map", "-i", edges_path, "--other", ident,
                 "-o", out]) == 0
    assert spark.read.parquet(out).count() == 6


def test_union_compose_extract(spark, edges_path, tmp_path, capsys):
    assert main(["transform", "union", "-i", edges_path,
                 "--other", edges_path]) == 0
    assert len(_json_lines(capsys)) == 6  # idempotent union
    assert main(["transform", "compose", "-i", edges_path,
                 "--other", edges_path]) == 0
    assert len(_json_lines(capsys)) > 0
    assert main(["extract-component", "-i", edges_path]) == 0
    assert len(_json_lines(capsys)) > 0


def test_unpack_ef_bv(spark, edges_path, tmp_path, capsys):
    for fmt in ["ef", "bv"]:
        blocks = str(tmp_path / f"p{fmt}")
        out = str(tmp_path / f"u{fmt}")
        assert main(["pack", "--format", fmt, "-i", edges_path,
                     "-o", blocks]) == 0
        _json_lines(capsys)
        assert main(["unpack", "--format", fmt, "-i", blocks,
                     "-o", out]) == 0
        got = sorted(
            (r.src, r.dst) for r in spark.read.parquet(out).collect()
        )
        assert got == sorted(ARCS)


def test_stats_degrees_and_ascii(spark, edges_path, tmp_path, capsys):
    deg = str(tmp_path / "deg")
    assert main(["stats", "-i", edges_path, "--degrees", deg]) == 0
    _json_lines(capsys)
    assert spark.read.parquet(deg + "/out").count() > 0
    ag = str(tmp_path / "g.ascii")
    assert main(["arclist", "export", "--format", "ascii",
                 "-i", edges_path, "-o", ag]) == 0
    back = str(tmp_path / "ascii_back")
    assert main(["arclist", "import", "--format", "ascii",
                 "-i", ag, "-o", back]) == 0
    got = sorted(
        (r.src, r.dst) for r in spark.read.parquet(back).collect()
    )
    assert got == sorted(ARCS)


def test_pagerank_checkpoint_lineage(spark, edges_path, tmp_path, capsys):
    ck = str(tmp_path / "ck")
    assert main(["pagerank", "-i", edges_path, "--checkpoint-dir", ck]) == 0
    assert _json_lines(capsys)[-1]["converged"] is True
    lineage = spark.read.parquet(ck + "/lineage")
    assert lineage.count() > 0  # per-iteration durable lineage rows


def test_successors_lookup(spark, edges_path, tmp_path, capsys):
    for fmt in ["csr", "ef", "bv"]:
        blocks = str(tmp_path / f"s{fmt}")
        assert main(["pack", "--format", fmt, "-i", edges_path,
                     "-o", blocks]) == 0
        _json_lines(capsys)
        assert main(["successors", "--format", fmt, "-i", blocks,
                     "--node", "0"]) == 0
        out = _json_lines(capsys)[0]
        assert out["successors"] == [1, 2] and out["outdegree"] == 2


def test_equals(spark, edges_path, tmp_path, capsys):
    assert main(["equals", "-i", edges_path, "--other", edges_path]) == 0
    assert _json_lines(capsys)[0]["equal"] is True
    t = str(tmp_path / "tr")
    assert main(["transform", "transpose", "-i", edges_path, "-o", t]) == 0
    assert main(["equals", "-i", edges_path, "--other", t]) == 0
    assert _json_lines(capsys)[0]["equal"] is False


def test_label_filters(spark, tmp_path, capsys):
    p = str(tmp_path / "labelled")
    spark.createDataFrame(
        [(0, 1, 5), (1, 2, 1), (2, 3, 9)], "src long, dst long, label long"
    ).write.parquet(p)
    assert main(["transform", "label-geq", "-i", p, "--threshold", "4"]) == 0
    assert len(_json_lines(capsys)) == 2
    assert main(["transform", "label-in", "-i", p, "--values", "1,9"]) == 0
    assert len(_json_lines(capsys)) == 2
