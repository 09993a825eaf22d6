"""Tests: N-Triples source, mutations, streaming ingest, streaming
events, multimodal plumbing."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from bikidata_spark import Engine, from_string_quads
from bikidata_spark.operators import multimodal as mm
from bikidata_spark.operators import mutations as mut
from bikidata_spark.sources.ntriples import read_nt


NT = """<http://ex/s1> <http://ex/p> "hello world" .
<http://ex/s1> <http://ex/p2> <http://ex/o1> .
_:b0 <http://ex/p> "blank subject" .
<http://ex/s2> <http://ex/p> "uni \\u0041 escape" .
malformed line without dot
<http://ex/s3> <http://ex/p> "spaces in literal . inside" .
"""


@pytest.fixture()
def nt_file(tmp_path):
    f = tmp_path / "data.nt"
    f.write_text(NT)
    return str(f)


def test_read_nt(spark, nt_file):
    quads = read_nt(spark, nt_file, graph="<g/test>")
    rows = {(r["s"], r["p"], r["o"]) for r in quads.collect()}
    assert ("<http://ex/s1>", "<http://ex/p>", '"hello world"') in rows
    assert ("_:b0", "<http://ex/p>", '"blank subject"') in rows
    assert ("<http://ex/s2>", "<http://ex/p>", '"uni A escape"') in rows  # A → A
    assert ("<http://ex/s3>", "<http://ex/p>", '"spaces in literal . inside"') in rows
    assert len(rows) == 5
    assert all(r["g"] == "<g/test>" for r in quads.collect())


def test_read_nq(spark, tmp_path):
    """N-Quads: optional graph-label 4th term (not a reference feature —
    its read_nt folds the 4th term into the object). Graph detection is
    token-shaped; literal objects whose text contains spaces, IRIs, or
    datatype suffixes must not be mistaken for graph labels."""
    from bikidata_spark.sources.ntriples import read_nq

    f = tmp_path / "data.nq"
    f.write_text(
        "<http://ex/s1> <http://ex/p> <http://ex/o1> <http://ex/g1> .\n"
        "<http://ex/s2> <http://ex/p> \"plain literal\" .\n"
        "<http://ex/s3> <http://ex/p> \"graphed literal\" <http://ex/g2> .\n"
        "<http://ex/s4> <http://ex/p> \"ends with <iri>\" .\n"
        "<http://ex/s5> <http://ex/p> \"1 2\"^^<http://ex/int> .\n"
        "_:b0 <http://ex/p> <http://ex/o2> _:g3 .\n"
        "<http://ex/s6> <http://ex/p> <http://ex/o3> .\n"
        "<http://ex/s7> <http://ex/p> \"foo _:bar\" .\n"
        "<http://ex/s8> <http://ex/p> \"x y _:b9\"^^<http://ex/t> .\n"
        "malformed line\n"
    )
    rows = {(r["s"], r["o"], r["g"]) for r in read_nq(spark, str(f)).collect()}
    assert rows == {
        ("<http://ex/s1>", "<http://ex/o1>", "<http://ex/g1>"),
        ("<http://ex/s2>", '"plain literal"', ""),
        ("<http://ex/s3>", '"graphed literal"', "<http://ex/g2>"),
        ("<http://ex/s4>", '"ends with <iri>"', ""),
        ("<http://ex/s5>", '"1 2"^^<http://ex/int>', ""),
        ("_:b0", "<http://ex/o2>", "_:g3"),
        ("<http://ex/s6>", "<http://ex/o3>", ""),
        # a literal ENDING in a blank-node-shaped word must not be
        # truncated into a bogus graph label (the closing quote rides
        # the final token, failing the label shape)
        ("<http://ex/s7>", '"foo _:bar"', ""),
        ("<http://ex/s8>", '"x y _:b9"^^<http://ex/t>', ""),
    }


def test_read_nt_parse_plan_single_split(spark, nt_file):
    """The tokenizing split must be evaluated exactly once per line.
    CollapseProject + PushDownPredicate would otherwise inline it into
    every output column and validity predicate (~9 evaluations/line,
    5× slower at sf1) — the non-deterministic guard in parse_nt_lines
    is the barrier; this pins it against optimizer-rule drift."""
    plan = (
        read_nt(spark, nt_file, decode_escapes=False)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("split(") == 1, plan


def test_read_nt_fans_out_only_narrow_dumps(spark, tmp_path, nt_file):
    """A dump in defaultParallelism gzip parts parses in place, with no
    round-robin shuffle of the token arrays; a single file still fans
    out to the session's width."""
    import gzip

    n = spark.sparkContext.defaultParallelism
    parts = tmp_path / "parts"
    parts.mkdir()
    for i in range(n):
        with gzip.open(parts / f"part-{i}.nt.gz", "wt") as f:
            f.write(f'<http://ex/s{i}> <http://ex/p> "v {i}" .\n')

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    wide = read_nt(spark, str(parts), decode_escapes=False)
    assert "RoundRobinPartitioning" not in plan(wide), plan(wide)
    assert {r["s"] for r in wide.collect()} == {f"<http://ex/s{i}>" for i in range(n)}
    narrow = read_nt(spark, nt_file, decode_escapes=False)
    assert f"RoundRobinPartitioning({n})" in plan(narrow), plan(narrow)


def test_nt_to_graph_query(spark, nt_file):
    g = from_string_quads(read_nt(spark, nt_file))
    eng = Engine(g)
    subs = {r["s"] for r in eng.subjects_values({"filters": [{"p": "fts", "o": "hello"}]}).collect()}
    assert subs == {"<http://ex/s1>"}


def test_insert_and_delete(spark):
    quads = spark.createDataFrame(
        [("<s1>", "<p1>", '"v1"', "")], "s string, p string, o string, g string"
    )
    g = from_string_quads(quads)
    g2, res = mut.insert(g, [{"s": "<s2>", "p": "<p1>", "o": '"v2"'}])
    assert res.get("triples_inserted") == 1
    assert g2.triples.count() == 2
    # duplicate insert refused
    _, res2 = mut.insert(g2, [{"s": "<s2>", "p": "<p1>", "o": '"v2"'}])
    assert "error" in res2
    # invalid subject refused
    _, res3 = mut.insert(g2, [{"s": "nope", "p": "<p1>", "o": '"v"'}])
    assert "error" in res3
    # delete specific triple
    g3, res4 = mut.delete(g2, [{"s": "<s2>", "p": "<p1>", "o": '"v2"'}])
    assert res4.get("triples_deleted") == 1
    assert g3.triples.count() == 1
    # delete nonexistent refused
    _, res5 = mut.delete(g3, [{"s": "<zz>", "p": "<p1>", "o": '"v"'}])
    assert "error" in res5
    # delete without o wipes all (s, p, g) matches
    g4, res6 = mut.delete(g3, [{"s": "<s1>", "p": "<p1>"}])
    assert g4.triples.count() == 0


def test_streaming_ingest(spark, tmp_path):
    from bikidata_spark.streaming.mutations import read_store, start_ingest

    src = tmp_path / "src"
    src.mkdir()
    recs = [
        {"action": "insert", "s": "<a>", "p": "<p>", "o": '"one"', "g": ""},
        {"action": "insert", "s": "<b>", "p": "<p>", "o": '"two"', "g": ""},
        {"action": "delete", "s": "<b>", "p": "<p>", "o": '"two"', "g": ""},
    ]
    (src / "batch1.json").write_text("\n".join(json.dumps(r) for r in recs))
    q = start_ingest(
        spark, str(src), str(tmp_path / "store"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(60)
    g = read_store(spark, str(tmp_path / "store"))
    eng = Engine(g)
    subs = {r["s"] for r in eng.subjects_values({"filters": [{"p": "<p>", "o": ""}]}).collect()}
    assert subs == {"<a>"}


def test_streaming_hourly_agg(spark, tmp_path):
    from bikidata_spark.streaming.events import hourly_agg_stream, read_event_stream, run_to_memory

    src = tmp_path / "ev"
    src.mkdir()
    rows = [
        {"event_id": 1, "ts": "2024-01-01T00:10:00", "user_id": 1, "event_type": "click", "value": 1.5, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01T00:40:00", "user_id": 1, "event_type": "click", "value": 2.5, "props": "{}"},
        {"event_id": 3, "ts": "2024-01-01T01:10:00", "user_id": 2, "event_type": "view", "value": 1.0, "props": "{}"},
    ]
    (src / "e.json").write_text("\n".join(json.dumps(r) for r in rows))
    stream = hourly_agg_stream(read_event_stream(spark, str(src)))
    q = run_to_memory(stream, "hourly_test")
    q.awaitTermination(60)
    out = {(str(r["hour"]), r["event_type"]): (r["n"], float(r["total"])) for r in spark.sql("select * from hourly_test").collect()}
    assert out[("2024-01-01 00:00:00", "click")] == (2, 4.0)
    assert out[("2024-01-01 01:00:00", "view")] == (1, 1.0)


def test_streaming_sessionize(spark, tmp_path):
    from bikidata_spark.streaming.events import read_event_stream, run_to_memory, sessionize_stream

    src = tmp_path / "ev2"
    src.mkdir()
    rows = [
        {"event_id": 1, "ts": "2024-01-01T00:00:00", "user_id": 1, "event_type": "c", "value": 0.0, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01T00:10:00", "user_id": 1, "event_type": "c", "value": 0.0, "props": "{}"},
        {"event_id": 3, "ts": "2024-01-01T02:00:00", "user_id": 1, "event_type": "c", "value": 0.0, "props": "{}"},
    ]
    (src / "e.json").write_text("\n".join(json.dumps(r) for r in rows))
    stream = sessionize_stream(read_event_stream(spark, str(src)))
    q = run_to_memory(stream, "sess_test")
    q.awaitTermination(60)
    out = sorted(
        (str(r["session_start"]), r["n_events"])
        for r in spark.sql("select * from sess_test").collect()
    )
    assert [n for _, n in out] == [2, 1]


def test_multimodal_fake_features(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"\x00\x01\x02\x03")), (2, bytearray(b"\xff" * 8))],
        "media_id long, payload binary",
    )
    media = mm.attach_media(df, "media_id", "payload", "image/png")
    feats = {r["media_id"]: r["feature"] for r in mm.extract_features(media, fake=True).collect()}
    assert len(feats[1]) == 16
    assert abs(sum(feats[1]) - 1.0) < 1e-9
    # real decode path is stubbed
    with pytest.raises(Exception):
        mm.extract_features(media, fake=False).collect()


def test_multimodal_frame_fanout(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"vid"))], "media_id long, payload binary"
    )
    media = mm.attach_media(df, "media_id", "payload", "video/mp4").withColumn(
        "duration_ms", F.lit(3000).cast("long")
    )
    frames = mm.sample_frames(media, every_ms=1000, fake=True).collect()
    assert len(frames) == 3
    assert [r["frame_ts_ms"] for r in sorted(frames, key=lambda r: r["frame_ts_ms"])] == [0, 1000, 2000]


def test_streaming_nt_ingest(spark, tmp_path):
    from bikidata_spark.streaming.mutations import read_store
    from bikidata_spark.streaming.ntriples import start_nt_ingest

    src = tmp_path / "ntsrc"
    src.mkdir()
    (src / "a.nt").write_text(
        '<http://x/s1> <http://x/p> "streamed value" .\n'
        '<http://x/s2> <http://x/p> <http://x/o> .\n'
    )
    q = start_nt_ingest(spark, str(src), str(tmp_path / "ntstore"), str(tmp_path / "ntckpt"))
    q.awaitTermination(60)
    g = read_store(spark, str(tmp_path / "ntstore"))
    eng = Engine(g)
    subs = {r["s"] for r in eng.subjects_values({"filters": [{"p": "fts", "o": "streamed"}]}).collect()}
    assert subs == {"<http://x/s1>"}


def test_read_nt_bz2_single_file(spark, tmp_path):
    """bzip2 dumps are the recommended single-file format: Hadoop's
    Bzip2Codec is splittable, so one .nt.bz2 decodes in parallel. This
    pins the read path (transparent codec) and quad parity with the
    plain parse."""
    import bz2

    body = (
        '<http://ex/s1> <http://p/x> "alpha beta" .\n'
        '<http://ex/s2> <http://p/x> <http://ex/o1> .\n'
        "_:b0 <http://p/y> \"uni \\u00e9\" .\n"
    )
    f = tmp_path / "dump.nt.bz2"
    f.write_bytes(bz2.compress(body.encode()))
    rows = {(r["s"], r["p"], r["o"]) for r in read_nt(spark, str(f)).collect()}
    assert rows == {
        ("<http://ex/s1>", "<http://p/x>", '"alpha beta"'),
        ("<http://ex/s2>", "<http://p/x>", "<http://ex/o1>"),
        ("_:b0", "<http://p/y>", '"uni é"'),
    }


def test_cli_build_mixed_formats(spark, tmp_path, capsys):
    """A build mixing .nt, .nq AND .trig inputs must union ALL three
    partitions — r5 unioned only the first two, silently dropping the
    TriG quads whenever all three formats appeared together."""
    from bikidata_spark.__main__ import main as cli

    src = tmp_path / "mixed"
    src.mkdir()
    (src / "a.nt").write_text('<http://ex/s1> <http://p/x> "nt row" .\n')
    (src / "b.nq").write_text(
        '<http://ex/s2> <http://p/x> "nq row" <http://g/q> .\n'
    )
    (src / "c.trig").write_text(
        "<http://g/t> {\n<http://ex/s3> <http://p/x> \"trig row\" .\n}\n"
    )
    store = str(tmp_path / "mixedstore")
    assert cli(["build", store, str(src / "a.nt"), str(src / "b.nq"), str(src / "c.trig")]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["triples"] == 3
    from bikidata_spark.graph import read_graph

    eng = Engine(read_graph(spark, store))
    for word, expect in (("nt", "<http://ex/s1>"), ("nq", "<http://ex/s2>"), ("trig", "<http://ex/s3>")):
        subs = {
            r["s"]
            for r in eng.subjects_values({"filters": [{"p": "fts", "o": word}]}).collect()
        }
        assert subs == {expect}, (word, subs)


def test_read_trig_blocks_and_graph_persistence(spark, tmp_path):
    from bikidata_spark.sources.ntriples import read_trig

    f = tmp_path / "x.trig"
    f.write_text(
        "<http://g/one> {\n"
        '<http://ex/a> <http://p/name> "Anna" .\n'
        "}\n"
        "<http://g/two> {\n"
        '<http://ex/b> <http://p/name> "Bj\\u00f6rn" .\n'
        "}\n"
        '<http://ex/c> <http://p/name> "tail" .\n'
    )
    rows = {(r["s"], r["g"], r["o"]) for r in read_trig(spark, str(f)).collect()}
    assert ("<http://ex/a>", "<http://g/one>", '"Anna"') in rows
    # \\uXXXX escape decoded + graph tag from the second block
    assert ("<http://ex/b>", "<http://g/two>", '"Björn"') in rows
    # reference quirk: `}` does NOT reset the current graph
    assert ("<http://ex/c>", "<http://g/two>", '"tail"') in rows


def test_read_trig_crlf_and_trailing_whitespace(spark, tmp_path):
    """A Windows-saved (CRLF) TriG file, with tab-trailing statements,
    must parse identically to its LF twin — the chunked parser
    normalizes trailing whitespace per line exactly like the old
    per-line rstrip() did."""
    from bikidata_spark.sources.ntriples import read_trig

    body_lf = (
        "<http://g/one> {\n"
        '<http://ex/a> <http://p/n> "Anna" .\n'
        "}\n"
        '<http://ex/b> <http://p/n> "tail" .\t\n'
    )
    f_lf = tmp_path / "lf.trig"
    f_lf.write_text(body_lf)
    f_crlf = tmp_path / "crlf.trig"
    f_crlf.write_bytes(body_lf.replace("\n", "\r\n").encode())
    want = {
        ("<http://ex/a>", "<http://g/one>", '"Anna"'),
        ("<http://ex/b>", "<http://g/one>", '"tail"'),
    }
    for f in (f_lf, f_crlf):
        rows = {(r["s"], r["g"], r["o"]) for r in read_trig(spark, str(f)).collect()}
        assert rows == want, f


def test_read_trig_multiblock_parses_across_tasks(spark, tmp_path):
    """r6: the TriG parse chunks at block-header boundaries and fans the
    per-line work out, so ONE multi-block file parses across more than
    one task — with quads identical to a sequential reference-style
    parse (leading statements before any header, indented statements,
    a graph spanning past its ``}``, headers with trailing blanks)."""
    from pyspark.sql import functions as F

    from bikidata_spark.sources.ntriples import read_trig

    blocks = ['<http://ex/pre> <http://p/x> "no graph yet" .']
    expected = {("<http://ex/pre>", "", '"no graph yet"')}
    for b in range(12):
        blocks.append(f"<http://g/{b}> {{  ")
        for i in range(50):
            blocks.append(f'  <http://ex/{b}/{i}> <http://p/x> "v {b} {i}" .')
            expected.add((f"<http://ex/{b}/{i}>", f"<http://g/{b}>", f'"v {b} {i}"'))
        blocks.append("}")
    # post-} statement rides the LAST header's graph (the quirk)
    blocks.append('<http://ex/post> <http://p/x> "after last block" .')
    expected.add(("<http://ex/post>", "<http://g/11>", '"after last block"'))
    f = tmp_path / "big.trig"
    f.write_text("\n".join(blocks) + "\n")

    out = read_trig(spark, str(f))
    rows = {(r["s"], r["g"], r["o"]) for r in out.collect()}
    assert rows == expected
    # the per-line parse really is distributed: rows occupy >1 partition
    nparts = (
        out.select(F.spark_partition_id().alias("pid")).distinct().count()
    )
    assert nparts > 1, nparts


def test_compact_store_preserves_graph_and_drops_tombstones(spark, tmp_path):
    from bikidata_spark.streaming.mutations import compact_store, read_store, start_ingest

    src = tmp_path / "src"
    src.mkdir()
    recs = [
        {"action": "insert", "s": "<a>", "p": "<p>", "o": '"one"', "g": ""},
        {"action": "insert", "s": "<a>", "p": "<p>", "o": '"one"', "g": ""},  # dup
        {"action": "insert", "s": "<b>", "p": "<p>", "o": '"two"', "g": ""},
        {"action": "delete", "s": "<b>", "p": "<p>", "o": '"two"', "g": ""},
    ]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in recs))
    store = str(tmp_path / "store")
    q = start_ingest(spark, str(src), store, str(tmp_path / "ckpt"))
    q.awaitTermination(60)

    before = {(r["s"], r["p"], r["o"]) for r in read_store(spark, store).triples.collect()}
    stats = compact_store(spark, store)
    after_graph = read_store(spark, store)
    after = {(r["s"], r["p"], r["o"]) for r in after_graph.triples.collect()}
    assert after == before and stats["triples"] == 1
    # tombstone log is gone and raw triple files hold no deleted rows
    import os

    assert not os.path.exists(f"{store}/tombstones")
    assert spark.read.parquet(f"{store}/triples").count() == 1


def test_media_similarity_topk(spark):
    from pyspark.sql import functions as F

    from bikidata_spark.operators.multimodal import attach_media, media_similarity_topk

    rows = [(i, bytes([i % 7] * 50 + [i % 3] * 20)) for i in range(20)]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    media = attach_media(df, "media_id", "payload", "image/png")
    out = media_similarity_topk(media, media.filter(F.col("media_id") < 2), k=3, fake=True)
    got = {(r["qid"], r["rank"]) for r in out.collect()}
    assert len(got) == 6  # 2 queries x top-3
    # query 0 is 70 zero-bytes; ids 7 and 14 share its dominant byte
    # class with equal cosine — the deterministic tie-break picks 7
    top = {r["neighbor"] for r in out.filter("qid = 0 and rank = 1").collect()}
    assert top == {7}


def test_media_decode_stub_raises_without_fake(spark):
    import pytest as _pytest

    from bikidata_spark.operators.multimodal import attach_media, extract_features

    # video/mp4 needs an H.264 decoder — the one honest stub left now
    # that PNG and baseline JPEG decode for real
    df = spark.createDataFrame([(1, b"xx")], "media_id long, payload binary")
    with _pytest.raises(Exception) as ei:
        extract_features(attach_media(df, "media_id", "payload", "video/mp4")).collect()
    assert "NotImplementedError" in str(ei.value) or "media decode" in str(ei.value)


def test_manifest_snapshot_isolation_and_vacuum(spark, tmp_path):
    from bikidata_spark.streaming.manifest import (
        commit_snapshot,
        read_snapshot,
        vacuum,
        versions,
    )
    from bikidata_spark.streaming.mutations import start_ingest

    src = tmp_path / "msrc"
    src.mkdir()
    store = str(tmp_path / "mstore")
    (src / "b1.json").write_text(
        json.dumps({"action": "insert", "s": "<a>", "p": "<p>", "o": '"one"', "g": ""})
    )
    start_ingest(spark, str(src), store, str(tmp_path / "mckpt")).awaitTermination(60)
    v1 = commit_snapshot(store)

    (src / "b2.json").write_text(
        json.dumps({"action": "insert", "s": "<b>", "p": "<p>", "o": '"two"', "g": ""})
    )
    # CONTINUE the same checkpoint: the new file arrives as the next
    # batch id, appending a new batch dir — committed files are never
    # rewritten, which is what keeps pinned snapshots readable
    start_ingest(spark, str(src), store, str(tmp_path / "mckpt")).awaitTermination(60)
    # v1 readers don't see the uncommitted append
    assert read_snapshot(spark, store, v1).triples.count() == 1
    v2 = commit_snapshot(store)
    assert versions(store) == [v1, v2]
    assert read_snapshot(spark, store).triples.count() == 2
    # time travel still works after the new commit
    assert read_snapshot(spark, store, v1).triples.count() == 1

    out = vacuum(store, keep_last=1)
    assert out["dropped_versions"] == [v1]
    # v2 is intact; v1 is gone
    assert versions(store) == [v2]
    assert read_snapshot(spark, store).triples.count() == 2


def test_cli_store_maintenance(spark, tmp_path, capsys):
    from bikidata_spark.__main__ import main as cli
    from bikidata_spark.streaming.mutations import start_ingest

    src = tmp_path / "csrc"
    src.mkdir()
    store = str(tmp_path / "cstore")
    (src / "b.json").write_text(
        "\n".join(
            json.dumps({"action": "insert", "s": f"<s{i}>", "p": "<p>", "o": '"v"', "g": ""})
            for i in range(3)
        )
    )
    start_ingest(spark, str(src), store, str(tmp_path / "cckpt")).awaitTermination(60)

    assert cli(["snapshot", store]) == 0
    out1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out1["version"] == 1
    # compact refuses while snapshots pin the pre-compaction files
    assert cli(["compact", store]) == 1
    err = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "manifest" in err["error"] or "snapshot" in err["error"]
    # --force compacts anyway, explicitly discarding snapshot guarantees
    assert cli(["compact", store, "--force"]) == 0
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["triples"] == 3
    # compact rewrote files; a new snapshot + vacuum of v1 must succeed
    assert cli(["snapshot", store]) == 0 and cli(["vacuum", store]) == 0
    out3 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out3["dropped_versions"] == [1]

    # the same verb auto-detects the other store layouts
    from pyspark.sql import functions as F

    from bikidata_spark.operators.similarity import write_ivf_store
    from bikidata_spark.streaming.fts import bootstrap_fts_store
    from bikidata_spark.streaming.mutations import read_store

    ivf = str(tmp_path / "civf")
    write_ivf_store(
        spark.createDataFrame(
            [(i, [float(i % 2), 1.0 - i % 2]) for i in range(6)],
            "vec_id long, embedding array<double>",
        ),
        ivf,
    )
    assert cli(["compact", ivf]) == 0
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1])["vectors"] == 6

    fts = str(tmp_path / "cfts")
    bootstrap_fts_store(read_store(spark, store).literals(), fts, num_buckets=2)
    assert cli(["compact", fts]) == 0
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1])["segments"] == 1


def test_funnel_stream_stateful(spark, tmp_path):
    from bikidata_spark.streaming.events import funnel_stream, read_event_stream

    src = tmp_path / "fev"
    src.mkdir()
    rows = [
        {"event_id": 1, "ts": "2024-01-01T00:00:00", "user_id": 1, "event_type": "view", "value": 0.0, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01T00:05:00", "user_id": 1, "event_type": "click", "value": 0.0, "props": "{}"},
        {"event_id": 3, "ts": "2024-01-01T00:10:00", "user_id": 1, "event_type": "purchase", "value": 0.0, "props": "{}"},
        # user 2 stalls at click
        {"event_id": 4, "ts": "2024-01-01T00:00:00", "user_id": 2, "event_type": "view", "value": 0.0, "props": "{}"},
        {"event_id": 5, "ts": "2024-01-01T00:01:00", "user_id": 2, "event_type": "click", "value": 0.0, "props": "{}"},
    ]
    (src / "e.json").write_text("\n".join(json.dumps(r) for r in rows))
    stream = funnel_stream(read_event_stream(spark, str(src)))
    q = (
        stream.writeStream.format("memory")
        .queryName("funnel_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = {(r["user_id"], str(r["completed_at"])) for r in spark.sql("select * from funnel_test").collect()}
    assert got == {(1, "2024-01-01 00:10:00")}


def test_streaming_dedup_ingest(spark, tmp_path):
    from bikidata_spark.streaming.mutations import start_dedup_ingest

    src = tmp_path / "dsrc"
    src.mkdir()
    store = str(tmp_path / "dstore")
    # batch 1: one in-batch dup pair (2 copies of 'same text')
    (src / "b1.json").write_text(
        "\n".join(
            json.dumps(d)
            for d in [
                {"doc_id": 1, "text": "same text"},
                {"doc_id": 2, "text": "same  TEXT!"},  # same fingerprint (normalized)
                {"doc_id": 3, "text": "unique one"},
            ]
        )
    )
    start_dedup_ingest(spark, str(src), store, str(tmp_path / "dck")).awaitTermination(60)
    docs1 = {r["doc_id"] for r in spark.read.parquet(f"{store}/docs").collect()}
    assert docs1 == {1, 3}  # min-id survivor of the dup class
    # batch 2: cross-batch dup of doc 1 + a new doc
    (src / "b2.json").write_text(
        "\n".join(
            json.dumps(d)
            for d in [
                {"doc_id": 9, "text": "Same text"},  # dup of already-ingested 1
                {"doc_id": 10, "text": "brand new"},
            ]
        )
    )
    start_dedup_ingest(spark, str(src), store, str(tmp_path / "dck")).awaitTermination(60)
    docs2 = {r["doc_id"] for r in spark.read.parquet(f"{store}/docs").collect()}
    assert docs2 == {1, 3, 10}


def _tone_wav(freq: float, sr: int = 8000, ms: int = 200, amp: float = 0.4, nch: int = 1) -> bytes:
    import struct

    import numpy as np

    n = sr * ms // 1000
    x = (np.sin(2 * np.pi * freq * np.arange(n) / sr) * amp * 32767).astype("<i2")
    if nch == 2:
        x = np.repeat(x, 2)
    data = x.tobytes()
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, nch, sr, sr * 2 * nch, 2 * nch, 16)
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def test_decode_wav_parses_pcm():
    import pytest as _pytest

    from bikidata_spark.operators.multimodal import decode_wav

    sr, x = decode_wav(_tone_wav(440, sr=8000, ms=100))
    assert sr == 8000 and len(x) == 800 and abs(x).max() <= 1.0
    # stereo downmixes to mono of the same length
    sr2, x2 = decode_wav(_tone_wav(440, sr=8000, ms=100, nch=2))
    assert sr2 == 8000 and len(x2) == 800
    with _pytest.raises(ValueError):
        decode_wav(b"not a wav at all........")


def test_media_similarity_wav_real_kernel(spark):
    """The REAL (non-fake) kernel end-to-end: decode WAV -> spectral
    features -> cosine top-k. A 440 Hz query must rank the other
    440 Hz tones above the 1200/2600 Hz ones."""
    from pyspark.sql import functions as F

    from bikidata_spark.operators.multimodal import attach_media, media_similarity_topk

    freqs = [440, 1200, 2600]
    rows = [
        (i, _tone_wav(freqs[i % 3], amp=0.25 + 0.05 * (i // 3))) for i in range(9)
    ]
    rows.append((100, _tone_wav(440, amp=0.5)))
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    media = attach_media(df.filter(F.col("media_id") < 100), "media_id", "payload", "audio/wav")
    query = attach_media(df.filter(F.col("media_id") == 100), "media_id", "payload", "audio/wav")
    out = media_similarity_topk(media, query, k=3, fake=False).collect()
    assert {r["neighbor"] for r in out} == {0, 3, 6}  # the 440 Hz tones


def test_streaming_replay_is_idempotent(spark, tmp_path):
    """Batch-id-derived overwrite writes: replaying the whole stream
    with a FRESH checkpoint (same batch ids) must leave the store
    byte-identical — no duplicate docs/triples from re-appends."""
    import json as _json

    from bikidata_spark.streaming.mutations import read_store, start_ingest

    src = tmp_path / "rsrc"
    src.mkdir()
    recs = [
        {"action": "insert", "s": "<a>", "p": "<p>", "o": '"one"', "g": ""},
        {"action": "insert", "s": "<b>", "p": "<p>", "o": '"two"', "g": ""},
    ]
    (src / "b.json").write_text("\n".join(_json.dumps(r) for r in recs))
    store = str(tmp_path / "rstore")
    start_ingest(spark, str(src), store, str(tmp_path / "ck1")).awaitTermination(60)
    n1 = spark.read.parquet(f"{store}/triples").count()
    # fresh checkpoint => the same files replay as the same batch ids
    start_ingest(spark, str(src), store, str(tmp_path / "ck2")).awaitTermination(60)
    n2 = spark.read.parquet(f"{store}/triples").count()
    assert n1 == n2 == 2  # raw file count unchanged — not masked by distinct()
    assert read_store(spark, store).triples.count() == 2


def test_compact_refuses_with_snapshots(spark, tmp_path):
    import json as _json

    import pytest as _pytest

    from bikidata_spark.streaming.manifest import commit_snapshot, read_snapshot
    from bikidata_spark.streaming.mutations import compact_store, start_ingest

    src = tmp_path / "gsrc"
    src.mkdir()
    (src / "b.json").write_text(
        _json.dumps({"action": "insert", "s": "<a>", "p": "<p>", "o": '"v"', "g": ""})
    )
    store = str(tmp_path / "gstore")
    start_ingest(spark, str(src), store, str(tmp_path / "gck")).awaitTermination(60)
    v = commit_snapshot(store)
    with _pytest.raises(RuntimeError, match="manifest"):
        compact_store(spark, store)
    # the pinned snapshot is still readable after the refusal
    assert read_snapshot(spark, store, v).triples.count() == 1
    # force compacts anyway (explicitly discarding snapshot guarantees)
    stats = compact_store(spark, store, force=True)
    assert stats["triples"] == 1


def test_incremental_fts_matches_batch_build(spark, tmp_path):
    """Streaming-maintained FTS store == from-scratch index over the
    same literals: same matches, same BM25 scores, and the incremental
    store still partition-prunes to the query's token buckets."""
    import json as _json
    import re

    from bikidata_spark.graph import from_string_quads
    from bikidata_spark.operators.fts import build_fts_index
    from bikidata_spark.streaming.fts import read_incremental_fts, start_fts_ingest

    src = tmp_path / "fsrc"
    src.mkdir()
    store, ck = str(tmp_path / "fstore"), str(tmp_path / "fck")
    b1 = [
        {"action": "insert", "s": "<e/1>", "p": "<label>", "o": '"alpha beta"', "g": ""},
        {"action": "insert", "s": "<e/2>", "p": "<label>", "o": '"gamma alpha"', "g": ""},
        {"action": "insert", "s": "<e/2>", "p": "<x>", "o": "<e/1>", "g": ""},  # not a literal
    ]
    (src / "b1.json").write_text("\n".join(_json.dumps(r) for r in b1))
    start_fts_ingest(spark, str(src), store, ck, num_buckets=8).awaitTermination(60)
    b2 = [
        # re-insert of an ALREADY-indexed literal: must not double-index
        {"action": "insert", "s": "<e/9>", "p": "<label>", "o": '"alpha beta"', "g": ""},
        {"action": "insert", "s": "<e/3>", "p": "<label>", "o": '"delta alpha beta"', "g": ""},
    ]
    (src / "b2.json").write_text("\n".join(_json.dumps(r) for r in b2))
    start_fts_ingest(spark, str(src), store, ck, num_buckets=8).awaitTermination(60)

    inc = read_incremental_fts(spark, store)
    quads = [(r["s"], r["p"], r["o"]) for r in b1 + b2]
    g = from_string_quads(
        spark.createDataFrame([(s, p, o, "") for s, p, o in quads], "s string, p string, o string, g string")
    )
    batch = build_fts_index(g.literals())
    assert inc.n_docs == batch.n_docs == 3 and abs(inc.avgdl - batch.avgdl) < 1e-12
    for query in ("alpha", "alpha beta", "delta", "nosuch"):
        a = sorted((r["lit"], round(r["score"], 10)) for r in inc.match(query).collect())
        b = sorted((r["lit"], round(r["score"], 10)) for r in batch.match(query).collect())
        assert a == b, query
    plan = inc.match("alpha")._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*bucket", plan), plan[:1500]


def test_incremental_fts_bootstrap_plus_stream(spark, tmp_path):
    """Bulk bootstrap (batch=-1 segment) + streamed additions compose
    into one index equal to a rebuild over everything."""
    import json as _json

    from bikidata_spark.graph import from_string_quads
    from bikidata_spark.operators.fts import build_fts_index
    from bikidata_spark.streaming.fts import (
        bootstrap_fts_store,
        read_incremental_fts,
        start_fts_ingest,
    )

    base = [("<e/1>", "<label>", '"alpha beta"'), ("<e/2>", "<label>", '"gamma alpha"')]
    g0 = from_string_quads(
        spark.createDataFrame([(s, p, o, "") for s, p, o in base], "s string, p string, o string, g string")
    )
    store = str(tmp_path / "bstore")
    bootstrap_fts_store(g0.literals(), store, num_buckets=8)

    src = tmp_path / "bsrc"
    src.mkdir()
    new = [
        # dup of a bootstrapped literal + a genuinely new one
        {"action": "insert", "s": "<e/9>", "p": "<label>", "o": '"alpha beta"', "g": ""},
        {"action": "insert", "s": "<e/3>", "p": "<label>", "o": '"delta alpha"', "g": ""},
    ]
    (src / "b.json").write_text("\n".join(_json.dumps(r) for r in new))
    start_fts_ingest(spark, str(src), store, str(tmp_path / "bck"), num_buckets=8).awaitTermination(60)

    inc = read_incremental_fts(spark, store)
    everything = base + [("<e/3>", "<label>", '"delta alpha"')]
    g = from_string_quads(
        spark.createDataFrame([(s, p, o, "") for s, p, o in everything], "s string, p string, o string, g string")
    )
    batch = build_fts_index(g.literals())
    assert inc.n_docs == batch.n_docs == 3
    for query in ("alpha", "delta", "gamma alpha"):
        a = sorted((r["lit"], round(r["score"], 10)) for r in inc.match(query).collect())
        b = sorted((r["lit"], round(r["score"], 10)) for r in batch.match(query).collect())
        assert a == b, query


def test_fts_ingest_replay_preserves_segments(spark, tmp_path):
    """Replaying an already-processed batch (fresh checkpoint, same
    batch ids) must REGENERATE its segments, not anti-join against its
    own seen-log output and overwrite them with empty data."""
    import json as _json

    from bikidata_spark.streaming.fts import read_incremental_fts, start_fts_ingest

    src = tmp_path / "rfsrc"
    src.mkdir()
    store, ck1, ck2 = str(tmp_path / "rfstore"), str(tmp_path / "rfck1"), str(tmp_path / "rfck2")
    recs = [
        {"action": "insert", "s": "<e/1>", "p": "<label>", "o": '"alpha beta"', "g": ""},
        {"action": "insert", "s": "<e/2>", "p": "<label>", "o": '"gamma"', "g": ""},
    ]
    (src / "b.json").write_text("\n".join(_json.dumps(r) for r in recs))
    start_fts_ingest(spark, str(src), store, ck1, num_buckets=8).awaitTermination(60)
    before = sorted(
        (r["lit"], round(r["score"], 10))
        for r in read_incremental_fts(spark, store).match("alpha").collect()
    )
    assert before, "sanity: batch 0 indexed something"
    # fresh checkpoint => the same file replays as the same batch id
    start_fts_ingest(spark, str(src), store, ck2, num_buckets=8).awaitTermination(60)
    inc = read_incremental_fts(spark, store)
    after = sorted((r["lit"], round(r["score"], 10)) for r in inc.match("alpha").collect())
    assert after == before  # identical index, literals NOT lost
    assert inc.n_docs == 2
    # postings segment for batch 0 is non-empty (not overwritten empty)
    assert spark.read.parquet(f"{store}/postings").count() > 0


def test_dedup_ingest_replay_preserves_docs(spark, tmp_path):
    """Same replay scenario for the streaming exact-dedup store: docs
    must survive a replayed batch, not be dropped by the seen anti-join."""
    import json as _json

    from bikidata_spark.streaming.mutations import start_dedup_ingest

    src = tmp_path / "rdsrc"
    src.mkdir()
    store = str(tmp_path / "rdstore")
    (src / "b.json").write_text(
        "\n".join(
            _json.dumps(d)
            for d in [
                {"doc_id": 1, "text": "first doc"},
                {"doc_id": 2, "text": "second doc"},
            ]
        )
    )
    start_dedup_ingest(spark, str(src), store, str(tmp_path / "rdck1")).awaitTermination(60)
    assert {r["doc_id"] for r in spark.read.parquet(f"{store}/docs").collect()} == {1, 2}
    start_dedup_ingest(spark, str(src), store, str(tmp_path / "rdck2")).awaitTermination(60)
    assert {r["doc_id"] for r in spark.read.parquet(f"{store}/docs").collect()} == {1, 2}
    assert spark.read.parquet(f"{store}/fps").count() == 2


def test_fts_store_compaction(spark, tmp_path):
    """compact_fts_store folds batch=* segments into one batch=-1
    segment per sub-store: BM25 identical pre/post, segment count
    bounded, bucket pruning preserved, later batches still compose."""
    import json as _json
    import os
    import re

    from bikidata_spark.streaming.fts import (
        compact_fts_store,
        read_incremental_fts,
        start_fts_ingest,
    )

    src = tmp_path / "csrc"
    src.mkdir()
    store, ck = str(tmp_path / "cstore"), str(tmp_path / "cck")
    batches = [
        [{"action": "insert", "s": f"<e/{i}>", "p": "<label>", "o": f'"alpha doc {i}"', "g": ""}]
        for i in range(3)
    ]
    for i, recs in enumerate(batches):
        (src / f"b{i}.json").write_text("\n".join(_json.dumps(r) for r in recs))
        start_fts_ingest(spark, str(src), store, ck, num_buckets=8).awaitTermination(60)
    segs = lambda sub: [d for d in os.listdir(f"{store}/{sub}") if d.startswith("batch=")]  # noqa: E731
    assert len(segs("postings")) == 3
    before = {
        q: sorted((r["lit"], round(r["score"], 10)) for r in read_incremental_fts(spark, store).match(q).collect())
        for q in ("alpha", "doc 1", "nosuch")
    }
    stats = compact_fts_store(spark, store)
    assert stats["n_docs"] == 3
    for sub in ("postings", "token_df", "doc_len", "stats", "seen"):
        assert segs(sub) == ["batch=-1"], sub
    inc = read_incremental_fts(spark, store)
    after = {
        q: sorted((r["lit"], round(r["score"], 10)) for r in inc.match(q).collect())
        for q in ("alpha", "doc 1", "nosuch")
    }
    assert after == before
    # bucket pruning survives compaction
    plan = inc.match("alpha")._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*bucket", plan), plan[:1500]
    # a post-compaction batch appends next to batch=-1 and composes
    (src / "b3.json").write_text(
        _json.dumps({"action": "insert", "s": "<e/9>", "p": "<label>", "o": '"alpha fresh"', "g": ""})
    )
    start_fts_ingest(spark, str(src), store, ck, num_buckets=8).awaitTermination(60)
    inc2 = read_incremental_fts(spark, store)
    assert inc2.n_docs == 4
    assert inc2.match("fresh").count() == 1
    # the already-indexed literals did not double-index
    assert sorted(segs("postings")) == ["batch=-1", "batch=3"]


def test_fts_store_snapshots_time_travel_and_vacuum(spark, tmp_path):
    """Manifests over the incremental FTS store: a committed version
    pins its segment files, later appends are invisible to it, old
    versions stay queryable until vacuumed, and compaction refuses
    while manifests pin segments."""
    import json as _json

    import pytest as _pytest

    from bikidata_spark.streaming.fts import (
        compact_fts_store,
        read_incremental_fts,
        start_fts_ingest,
    )
    from bikidata_spark.streaming.manifest import (
        commit_snapshot,
        read_fts_snapshot,
        vacuum,
    )

    src = tmp_path / "msrc"
    src.mkdir()
    store, ck = str(tmp_path / "mstore"), str(tmp_path / "mck")
    (src / "b0.json").write_text(
        _json.dumps({"action": "insert", "s": "<e/1>", "p": "<l>", "o": '"alpha one"', "g": ""})
    )
    start_fts_ingest(spark, str(src), store, ck, num_buckets=4).awaitTermination(60)
    v1 = commit_snapshot(store)
    (src / "b1.json").write_text(
        _json.dumps({"action": "insert", "s": "<e/2>", "p": "<l>", "o": '"alpha two"', "g": ""})
    )
    start_fts_ingest(spark, str(src), store, ck, num_buckets=4).awaitTermination(60)
    v2 = commit_snapshot(store)

    old = read_fts_snapshot(spark, store, v1)
    assert old.n_docs == 1 and old.match("alpha").count() == 1
    assert old.match("two").count() == 0  # the later append is invisible
    new = read_fts_snapshot(spark, store, v2)
    assert new.n_docs == 2 and new.match("alpha").count() == 2
    # live read agrees with the latest snapshot
    live = read_incremental_fts(spark, store)
    assert live.match("alpha").count() == 2
    # compaction refuses while manifests pin segment files
    with _pytest.raises(RuntimeError, match="manifest"):
        compact_fts_store(spark, store)
    # vacuum keeps only v2; append-only files shared with v2 survive
    out = vacuum(store, keep_last=1)
    assert out["dropped_versions"] == [v1]
    assert read_fts_snapshot(spark, store).match("alpha").count() == 2
    # vacuum keep_last=0 drops all version PINS but deletes no data;
    # force-free compaction is then allowed again
    out0 = vacuum(store, keep_last=0)
    assert out0["dropped_versions"] == [v2] and out0["removed_files"] == []
    compact_fts_store(spark, store)
    assert read_incremental_fts(spark, store).match("alpha").count() == 2


def test_ivf_store_snapshot(spark, tmp_path):
    """Manifests over the persisted IVF store: the pinned version serves
    the same pruned top-k as the live store, with the cell partition
    column intact."""
    from bikidata_spark.operators.similarity import (
        ivf_store_topk,
        read_ivf_store,
        write_ivf_store,
    )
    from bikidata_spark.streaming.manifest import commit_snapshot, read_ivf_snapshot

    embs = spark.createDataFrame(
        [(i, [float((i * 13 + d * 7) % 11) for d in range(6)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    store = str(tmp_path / "istore")
    write_ivf_store(embs, store, centroid_step=7)
    v = commit_snapshot(store)
    assert v == 1
    qs = embs.filter("vec_id < 2")
    live = sorted(
        map(tuple, ivf_store_topk(*read_ivf_store(spark, store), qs, k=3).collect())
    )
    snap_vecs, snap_cents = read_ivf_snapshot(spark, store)
    assert "cell" in snap_vecs.columns
    snap = sorted(map(tuple, ivf_store_topk(snap_vecs, snap_cents, qs, k=3).collect()))
    assert snap == live


def test_cross_layout_snapshot_lifecycle(spark, tmp_path):
    """Full commit-protocol lifecycle interleaved across ALL THREE store
    layouts (quad log, incremental FTS, IVF vectors) in one scenario:
    bootstrap → snapshot v1 → append → snapshot v2 → time-travel reads →
    compact refused while pinned → vacuum pins away → compact → fresh
    snapshot reads the compacted store. Each layout is also tested
    alone elsewhere; the interleaving here is where protocol bugs
    (shared manifest code, layout detection, pin accounting) hide."""
    import glob as _glob

    from pyspark.sql import functions as F

    from bikidata_spark.operators.fts import build_fts_index
    from bikidata_spark.operators.similarity import (
        append_ivf_store,
        compact_ivf_store,
        ivf_store_topk,
        read_ivf_store,
        write_ivf_store,
    )
    from bikidata_spark.streaming.fts import (
        bootstrap_fts_store,
        compact_fts_store,
        read_incremental_fts,
        start_fts_ingest,
    )
    from bikidata_spark.streaming.manifest import (
        commit_snapshot,
        read_fts_snapshot,
        read_ivf_snapshot,
        read_snapshot,
        vacuum,
        versions,
    )
    from bikidata_spark.streaming.mutations import compact_store, read_store, start_ingest

    quad_store = str(tmp_path / "quads")
    fts_store = str(tmp_path / "fts")
    ivf_store = str(tmp_path / "ivf")
    src = tmp_path / "src"
    src.mkdir()

    # ---- bootstrap all three ----------------------------------------
    (src / "b1.json").write_text(
        "\n".join(
            json.dumps({"action": "insert", "s": f"<e/{i}>", "p": "<label>", "o": f'"alpha doc {i}"', "g": ""})
            for i in range(4)
        )
    )
    start_ingest(spark, str(src), quad_store, str(tmp_path / "qck")).awaitTermination(60)
    g1 = read_store(spark, quad_store)
    bootstrap_fts_store(g1.literals(), fts_store, num_buckets=4)

    vecs = spark.createDataFrame(
        [(i, [1.0 if i % 2 else 0.0, 0.0 if i % 2 else 1.0, 0.1 * i]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    write_ivf_store(vecs, ivf_store)

    v1 = {s: commit_snapshot(s) for s in (quad_store, fts_store, ivf_store)}
    assert all(v == 1 for v in v1.values())

    # ---- appends on every layout ------------------------------------
    (src / "b2.json").write_text(
        json.dumps({"action": "insert", "s": "<e/9>", "p": "<label>", "o": '"bravo doc 9"', "g": ""})
    )
    start_ingest(spark, str(src), quad_store, str(tmp_path / "qck")).awaitTermination(60)
    start_fts_ingest(spark, str(src), fts_store, str(tmp_path / "fck"), num_buckets=4).awaitTermination(60)
    extra = spark.createDataFrame(
        [(100, [0.5, 0.5, 0.0]), (101, [0.9, 0.1, 0.0])],
        "vec_id long, embedding array<double>",
    )
    assert append_ivf_store(extra, ivf_store) == 2

    v2 = {s: commit_snapshot(s) for s in (quad_store, fts_store, ivf_store)}
    assert all(v == 2 for v in v2.values())

    # ---- time travel: v1 is pre-append on every layout ---------------
    assert read_snapshot(spark, quad_store, 1).triples.count() == 4
    assert read_snapshot(spark, quad_store, 2).triples.count() == 5
    assert read_fts_snapshot(spark, fts_store, 1).match("bravo").count() == 0
    assert read_fts_snapshot(spark, fts_store, 2).match("bravo").count() == 1
    sv1, _ = read_ivf_snapshot(spark, ivf_store, 1)
    sv2, _ = read_ivf_snapshot(spark, ivf_store, 2)
    assert sv1.count() == 8 and sv2.count() == 10

    # ---- compaction refuses while any manifest pins files ------------
    for fn, store in (
        (compact_store, quad_store),
        (compact_fts_store, fts_store),
        (compact_ivf_store, ivf_store),
    ):
        with pytest.raises(RuntimeError, match="manifest"):
            fn(spark, store)

    # vacuum to latest-only: pins for v1 drop everywhere, v2 still reads
    for s in (quad_store, fts_store, ivf_store):
        assert vacuum(s, keep_last=1)["dropped_versions"] == [1]
        assert versions(s) == [2]
    assert read_snapshot(spark, quad_store).triples.count() == 5

    # reference state before compaction (order-insensitive)
    pre_quads = sorted(tuple(r) for r in read_store(spark, quad_store).triples.collect())
    pre_fts = sorted(
        (r["lit"], round(r["score"], 9))
        for r in read_incremental_fts(spark, fts_store).match("doc").collect()
    )
    q = spark.createDataFrame([(0, [0.0, 1.0, 0.0])], "vec_id long, embedding array<double>")
    pre_ann = sorted(
        tuple(r) for r in ivf_store_topk(*read_ivf_store(spark, ivf_store), q, k=3).collect()
    )

    # ---- drop remaining pins, compact all three, verify unchanged ----
    for s in (quad_store, fts_store, ivf_store):
        vacuum(s, keep_last=0)
    compact_store(spark, quad_store)
    compact_fts_store(spark, fts_store)
    n_files_before = len(_glob.glob(f"{ivf_store}/vectors/cell=*/*.parquet"))
    compact_ivf_store(spark, ivf_store)
    n_files_after = len(_glob.glob(f"{ivf_store}/vectors/cell=*/*.parquet"))
    assert n_files_after < n_files_before  # append files folded per cell

    assert sorted(tuple(r) for r in read_store(spark, quad_store).triples.collect()) == pre_quads
    post_fts = sorted(
        (r["lit"], round(r["score"], 9))
        for r in read_incremental_fts(spark, fts_store).match("doc").collect()
    )
    assert post_fts == pre_fts  # BM25 identical pre/post compaction
    post_ann = sorted(
        tuple(r) for r in ivf_store_topk(*read_ivf_store(spark, ivf_store), q, k=3).collect()
    )
    assert post_ann == pre_ann

    # ---- the protocol composes again on the compacted stores ---------
    for s in (quad_store, fts_store, ivf_store):
        assert commit_snapshot(s) == 1  # version counter restarted post-vacuum(0)
    assert read_snapshot(spark, quad_store, 1).triples.count() == 5
    assert read_fts_snapshot(spark, fts_store, 1).match("alpha").count() == 4
    rv, _ = read_ivf_snapshot(spark, ivf_store, 1)
    assert rv.count() == 10


def _ppm(img) -> bytes:
    import numpy as np

    return mm.encode_ppm(np.asarray(img, dtype=np.uint8))


def _bmp24(img) -> bytes:
    """Hand-assemble an uncompressed 24-bit bottom-up BMP (padded rows)."""
    import numpy as np

    img = np.asarray(img, dtype=np.uint8)
    h, w = img.shape[0], img.shape[1]
    stride = (w * 3 + 3) & ~3
    raster = bytearray()
    for row in img[::-1]:  # bottom-up
        line = bytearray(row[:, ::-1].tobytes())  # RGB -> BGR
        line += b"\x00" * (stride - w * 3)
        raster += line
    off = 14 + 40
    header = (
        b"BM"
        + (off + len(raster)).to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + off.to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + len(raster).to_bytes(4, "little")
        + b"\x00" * 16
    )
    return bytes(header) + bytes(raster)


def _y4m(frames, fps=(2, 1)) -> bytes:
    """Assemble a C420 YUV4MPEG2 stream from (H, W) uint8 luma planes."""
    import numpy as np

    h, w = frames[0].shape
    out = bytearray(b"YUV4MPEG2 W%d H%d F%d:%d Ip A1:1 C420jpeg\n" % (w, h, *fps))
    for f in frames:
        out += b"FRAME\n"
        out += np.asarray(f, dtype=np.uint8).tobytes()
        out += b"\x80" * (2 * ((w // 2) * (h // 2)))  # neutral chroma
    return bytes(out)


def test_image_decode_roundtrip_and_formats():
    import numpy as np

    img = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    assert np.array_equal(mm.decode_image(mm.encode_ppm(img)), img)
    # PPM comments + multi-whitespace header
    with_comment = b"P6\n# a comment\n3 2\n# more\n255\n" + img.tobytes()
    assert np.array_equal(mm.decode_image(with_comment), img)
    # BMP: bottom-up, BGR, padded rows — decodes to the same pixels
    assert np.array_equal(mm.decode_image(_bmp24(img)), img)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        mm.decode_image(b"\x89PNG\r\n\x1a\n....")


def test_image_features_and_similarity(spark):
    """Real image kernels end-to-end through mapInPandas: a near-copy
    ranks closer than a structurally different image."""
    import numpy as np

    base = np.zeros((8, 8, 3), dtype=np.uint8)
    base[:, 4:] = 255  # half black / half white
    near = base.copy()
    near[0, 0] = 10  # tiny perturbation
    other = np.tile(np.arange(0, 255, 32, dtype=np.uint8).reshape(1, 8, 1), (8, 1, 3))
    rows = [(1, bytearray(_ppm(base))), (2, bytearray(_ppm(near))), (3, bytearray(_bmp24(other)))]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    mimes = {1: "image/x-portable-pixmap", 2: "image/x-portable-pixmap", 3: "image/bmp"}
    media = mm.attach_media(df, "media_id", "payload", "x").withColumn(
        "mime",
        F.when(F.col("media_id") == 3, "image/bmp").otherwise("image/x-portable-pixmap"),
    )
    feats = {r["media_id"]: r["feature"] for r in mm.extract_features(media).collect()}
    assert len(feats) == 3 and all(len(v) == 16 for v in feats.values())
    q = media.filter(F.col("media_id") == 1)
    ranked = mm.media_similarity_topk(media, q, k=2).collect()
    order = [r["neighbor"] for r in sorted(ranked, key=lambda r: r["rank"])]
    assert order[0] == 2  # the near-copy outranks the gradient image


def test_image_resize_nearest(spark):
    import numpy as np

    img = np.zeros((4, 4, 3), dtype=np.uint8)
    img[2:, 2:] = 200  # bottom-right quadrant bright
    df = spark.createDataFrame([(1, bytearray(_ppm(img)))], "media_id long, payload binary")
    media = mm.attach_media(df, "media_id", "payload", "image/ppm")
    out = mm.resize_images(media, 2, 2).collect()[0]
    assert (out["width"], out["height"], out["mime"]) == (2, 2, "image/x-portable-pixmap")
    small = mm.decode_image(bytes(out["payload"]))
    assert small.shape == (2, 2, 3)
    # nearest-neighbor keeps exact source pixels: quadrant structure survives
    assert small[0, 0].tolist() == [0, 0, 0] and small[1, 1].tolist() == [200, 200, 200]


def test_y4m_decode_sample_and_features(spark):
    import numpy as np

    frames = [np.full((4, 4), v, dtype=np.uint8) for v in (0, 60, 120, 180)]
    payload = _y4m(frames, fps=(2, 1))  # 2 fps -> 500 ms per frame
    fps, decoded = mm.decode_y4m(payload)
    assert fps == 2.0 and len(decoded) == 4
    assert np.array_equal(decoded[3], frames[3])

    df = spark.createDataFrame([(7, bytearray(payload))], "media_id long, payload binary")
    media = mm.attach_media(df, "media_id", "payload", "video/x-yuv4mpeg")
    # every 1000 ms at 2 fps -> frames 0 and 2, timestamps 0 and 1000
    got = sorted(
        (r["frame_ts_ms"], mm.decode_image(bytes(r["frame"]))[0, 0, 0])
        for r in mm.sample_frames(media, every_ms=1000).collect()
    )
    assert got == [(0, 0), (1000, 120)]
    feats = mm.extract_features(media).collect()[0]["feature"]
    assert len(feats) == 16 and feats[-4] > 0.0  # mean luminance of sampled frames


def test_nt_ingest_matches_rdfize(spark, tmp_path):
    """Round-trip parity (r4 #5): serializing the sf0.001 triplization
    to gzipped N-Triples and re-ingesting through read_nt must build a
    graph identical to the direct rdfize build (same row count and
    order-insensitive triple-hash fold; graphs stripped — N-Triples has
    no graph field)."""
    from bikidata_spark import from_string_quads
    from bikidata_spark.sources.rdfize import string_quads

    sf_dir = os.environ.get("BIKIDATA_TEST_SF_DIR", "/root/testdata/sf0.001")
    quads = string_quads(spark, sf_dir)
    (
        quads.select(F.concat(F.concat_ws(" ", "s", "p", "o"), F.lit(" .")).alias("value"))
        .write.option("compression", "gzip")
        .mode("overwrite")
        .text(str(tmp_path / "dump.nt"))
    )

    def sig(g):
        r = g.triples.select(
            F.count("*").alias("n"), F.bit_xor(F.xxhash64("s", "p", "o")).alias("h")
        ).first()
        return (r["n"], r["h"])

    nt_g = from_string_quads(read_nt(spark, str(tmp_path / "dump.nt")))
    base = from_string_quads(quads.withColumn("g", F.lit("")))
    assert sig(nt_g) == sig(base)
    assert sig(nt_g)[0] > 1000


def test_jpeg_roundtrip_modes():
    """Pure-numpy baseline JPEG codec: encode→decode stays within
    quantization error for grayscale, 4:4:4, 4:2:0, and restart-marker
    streams, on non-multiple-of-MCU dimensions."""
    import numpy as np

    from bikidata_spark.functions.jpeg import decode_jpeg, encode_jpeg

    yy, xx = np.mgrid[0:21, 0:19]
    img = np.stack([yy * 9, xx * 11, (yy + xx) * 4], axis=2).astype(np.uint8)
    for sub, ri, tol in (("444", 0, 6), ("444", 2, 6), ("420", 0, 12), ("420", 3, 12)):
        dec = decode_jpeg(encode_jpeg(img, subsampling=sub, restart_interval=ri))
        assert dec.shape == img.shape
        assert np.abs(dec.astype(int) - img.astype(int)).max() <= tol, (sub, ri)
    gray = (yy * 7 % 256).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg(gray, qt=np.ones(64)))
    assert dec.shape == (21, 19, 3)
    assert np.abs(dec[:, :, 0].astype(int) - gray.astype(int)).max() <= 1
    # channels replicate for grayscale
    assert np.array_equal(dec[:, :, 0], dec[:, :, 1])


def test_jpeg_fixture_decodes():
    """The committed fixture guards against encoder/decoder co-drift:
    gradient_420.jpg must keep decoding to (a lossy neighborhood of)
    its committed PPM twin."""
    import pathlib

    import numpy as np

    fix = pathlib.Path(__file__).parent / "fixtures"
    jpg = (fix / "gradient_420.jpg").read_bytes()
    expect = mm.decode_image((fix / "gradient.ppm").read_bytes())
    got = mm.decode_image(jpg)  # magic-byte dispatch, no mime needed
    assert got.shape == expect.shape == (37, 29, 3)
    err = np.abs(got.astype(int) - expect.astype(int))
    assert err.max() <= 10 and err.mean() <= 4.0


def test_jpeg_progressive_matches_baseline():
    """r6: progressive (SOF2) decode — spectral selection, successive
    approximation (DC + AC refinement, EOB runs, ZRL-with-corrections).
    The progressive encoder quantizes identically to the baseline one,
    so the two streams must decode PIXEL-IDENTICAL, color and gray, on
    non-multiple-of-8 dimensions."""
    import numpy as np

    from bikidata_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(7)
    yy, xx = np.mgrid[0:21, 0:19]
    grad = np.stack([yy * 9, xx * 11, (yy + xx) * 4], axis=2).astype(np.uint8)
    noisy = rng.integers(0, 256, size=(24, 17, 3), dtype=np.uint8)
    sparse = np.zeros((16, 16, 3), np.uint8)
    sparse[3, 4] = (200, 10, 90)  # exercises long zero runs / ZRL / EOB
    for img, tol in ((grad, 8), (noisy, 8), (sparse, 16)):
        base = decode_jpeg(encode_jpeg(img))
        prog = decode_jpeg(encode_jpeg_progressive(img))
        assert np.array_equal(base, prog)
        # and both stay within quantization error of the source (the
        # impulse image rings hardest under the flat quant table)
        assert np.abs(prog.astype(int) - img.astype(int)).max() <= tol
    gray = (yy * 7 % 256).astype(np.uint8)
    assert np.array_equal(
        decode_jpeg(encode_jpeg(gray, qt=np.ones(64))),
        decode_jpeg(encode_jpeg_progressive(gray, qt=np.ones(64))),
    )
    # magic-byte dispatch path decodes progressive payloads too
    assert mm.decode_image(encode_jpeg_progressive(grad)).shape == (21, 19, 3)


def test_jpeg_12bit_extended_sequential():
    """r6: 12-bit SOF1 decode — level shift 2048, 12-bit clamp, scale
    to 8 bits via the high nibble; gray and color, non-multiple-of-8
    dims, extended Huffman categories (DC size 13+, AC size 13)."""
    import numpy as np

    from bikidata_spark.functions.jpeg import decode_jpeg, encode_jpeg_12

    rng = np.random.default_rng(5)
    img12 = rng.integers(0, 4096, (13, 11, 3)).astype(np.uint16)
    out = decode_jpeg(encode_jpeg_12(img12, qt=np.ones(64)))
    assert out.shape == (13, 11, 3) and out.dtype == np.uint8
    # 12-bit quantization error collapses in the 8-bit projection
    err = np.abs(out.astype(int) - (img12 >> 4).astype(int))
    assert err.max() <= 2, err.max()
    # grayscale incl. extreme values (max-magnitude DC/AC categories)
    g = np.zeros((8, 8), np.uint16)
    g[0, 0] = 4095
    g[4, 4] = 4095
    og = decode_jpeg(encode_jpeg_12(g, qt=np.ones(64)))
    assert og.shape == (8, 8, 3)
    assert og[0, 0, 0] >= 250 and og[7, 7, 0] <= 6
    smooth = (np.mgrid[0:9, 0:10][0] * 400).astype(np.uint16)
    os_ = decode_jpeg(encode_jpeg_12(smooth, qt=np.ones(64)))
    assert np.abs(os_[:, :, 0].astype(int) - (smooth >> 4).astype(int)).max() <= 1


def test_jpeg_unsupported_sof_raises():
    import numpy as np
    import pytest

    from bikidata_spark.functions.jpeg import encode_jpeg

    payload = bytearray(encode_jpeg(np.zeros((8, 8), dtype=np.uint8)))
    sof = payload.index(b"\xff\xc0")
    payload[sof + 1] = 0xC9  # SOF9: arithmetic-coded — still honest seam
    with pytest.raises(NotImplementedError, match="arithmetic"):
        mm.decode_image(bytes(payload))


def test_jpeg_similarity_ranking(spark):
    """End-to-end Spark run on JPEG payloads: the near-copy outranks a
    structurally different image, same contract as the PPM/BMP test."""
    import numpy as np

    from bikidata_spark.functions.jpeg import encode_jpeg

    base = np.zeros((16, 16, 3), dtype=np.uint8)
    base[:, 8:] = 255
    near = base.copy()
    near[0, 0] = 12
    other = np.tile(np.arange(0, 255, 16, dtype=np.uint8).reshape(1, 16, 1), (16, 1, 3))
    rows = [
        (1, bytearray(encode_jpeg(base))),
        (2, bytearray(encode_jpeg(near, subsampling="420"))),
        (3, bytearray(encode_jpeg(other))),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    media = mm.attach_media(df, "media_id", "payload", "image/jpeg")
    ranked = mm.media_similarity_topk(media, media.filter(F.col("media_id") == 1), k=2).collect()
    order = [r["neighbor"] for r in sorted(ranked, key=lambda r: r["rank"])]
    assert order[0] == 2


def test_png_roundtrip_and_filters():
    """stdlib-zlib PNG codec: encode→decode is lossless; hand-built
    streams exercise every scanline filter (0-4), indexed color, and
    alpha compositing."""
    import struct
    import zlib

    import numpy as np

    from bikidata_spark.functions.png import decode_png, encode_png

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (23, 17, 3)).astype(np.uint8)
    assert np.array_equal(decode_png(encode_png(img)), img)
    g = rng.integers(0, 256, (9, 31)).astype(np.uint8)
    assert np.array_equal(decode_png(encode_png(g))[:, :, 0], g)

    def chunk(t, d):
        return struct.pack(">I", len(d)) + t + d + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)

    sig = b"\x89PNG\r\n\x1a\n"
    # known image re-filtered with a rotating filter type per row
    img2 = np.arange(23 * 17 * 3, dtype=np.uint8).reshape(23, 17, 3)
    rows, prev = [], np.zeros(17 * 3, np.int32)
    for y in range(23):
        cur = img2[y].reshape(-1).astype(np.int32)
        ft = y % 5
        enc = cur.copy()
        if ft == 1:
            enc[3:] = (cur[3:] - cur[:-3]) % 256
        elif ft == 2:
            enc = (cur - prev) % 256
        elif ft == 3:
            for x in range(len(cur)):
                left = cur[x - 3] if x >= 3 else 0
                enc[x] = (cur[x] - ((left + prev[x]) >> 1)) % 256
        elif ft == 4:
            for x in range(len(cur)):
                a = cur[x - 3] if x >= 3 else 0
                c = prev[x - 3] if x >= 3 else 0
                b = prev[x]
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[x] = (cur[x] - pred) % 256
        rows.append(bytes([ft]) + bytes(enc.astype(np.uint8)))
        prev = cur
    png = (
        sig
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 17, 23, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"".join(rows)))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(png), img2)

    pal = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255], [9, 9, 9]], np.uint8)
    idx = rng.integers(0, 4, (6, 5)).astype(np.uint8)
    raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(6))
    png = (
        sig
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 5, 6, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", pal.tobytes())
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(png), pal[idx])

    rgba = np.dstack(
        [
            np.full((4, 4), 200, np.uint8),
            np.zeros((4, 4), np.uint8),
            np.zeros((4, 4), np.uint8),
            np.full((4, 4), 128, np.uint8),
        ]
    )
    raw = b"".join(b"\x00" + rgba[y].tobytes() for y in range(4))
    png = (
        sig
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 6, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    out = decode_png(png)
    assert out[0, 0, 0] == 200 * 128 // 255 and out[0, 0, 1] == 0


def test_png_16bit_subbyte_and_interlace():
    """r6: the remaining PNG corners — 16-bit samples (scaled via the
    high byte), 1/2/4-bit greyscale and indexed, and Adam7 interlace
    (cross-checked pixel-identical against the sequential stream of
    the same image)."""
    import struct
    import zlib

    import numpy as np

    from bikidata_spark.functions.png import _ADAM7, decode_png

    def chunk(t, d):
        return struct.pack(">I", len(d)) + t + d + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)

    sig = b"\x89PNG\r\n\x1a\n"
    rng = np.random.default_rng(11)

    # 16-bit truecolor: decode takes the high byte
    img16 = rng.integers(0, 65536, (7, 5, 3)).astype(">u2")
    raw = b"".join(b"\x00" + img16[y].tobytes() for y in range(7))
    png = (
        sig
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 5, 7, 16, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(png), (img16 >> 8).astype(np.uint8))

    # sub-byte greyscale: 1/2/4-bit scale by 255/(2^d-1) exactly
    for depth, scale in ((1, 255), (2, 85), (4, 17)):
        w, h = 11, 3  # non-byte-aligned width exercises row padding
        vals = rng.integers(0, 1 << depth, (h, w)).astype(np.uint8)
        rows = []
        for y in range(h):
            bits = np.unpackbits(vals[y][:, None], axis=1, count=8)[:, 8 - depth :]
            packed = np.packbits(bits.reshape(-1))
            rows.append(b"\x00" + packed.tobytes())
        png = (
            sig
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, depth, 0, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(b"".join(rows)))
            + chunk(b"IEND", b"")
        )
        assert np.array_equal(decode_png(png)[:, :, 0], vals * scale), depth

    # Adam7: build the interlaced stream of a known image (filter 0
    # per pass row) and pin it equal to the sequential decode
    img = rng.integers(0, 256, (13, 9, 3)).astype(np.uint8)
    seq = b"".join(b"\x00" + img[y].tobytes() for y in range(13))
    png_seq = (
        sig
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 9, 13, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(seq))
        + chunk(b"IEND", b"")
    )
    passes = []
    for x0, y0, dx, dy in _ADAM7:
        sub = img[y0::dy, x0::dx]
        for y in range(sub.shape[0]):
            if sub.shape[1]:
                passes.append(b"\x00" + sub[y].tobytes())
    png_i7 = (
        sig
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 9, 13, 8, 2, 0, 0, 1))
        + chunk(b"IDAT", zlib.compress(b"".join(passes)))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(png_i7), decode_png(png_seq))
    assert np.array_equal(decode_png(png_i7), img)


def test_png_through_media_pipeline(spark):
    """PNG payloads flow through the Spark media kernels: magic-byte
    dispatch in decode_image, features, and resize all work; the
    committed fixture guards against codec drift."""
    import pathlib

    import numpy as np

    from bikidata_spark.functions.png import encode_png

    fix = pathlib.Path(__file__).parent / "fixtures"
    png = (fix / "gradient.png").read_bytes()
    expect = mm.decode_image((fix / "gradient.ppm").read_bytes())
    assert np.array_equal(mm.decode_image(png), expect)  # PNG is lossless

    df = spark.createDataFrame([(1, bytearray(encode_png(expect)))], "media_id long, payload binary")
    media = mm.attach_media(df, "media_id", "payload", "image/png")
    feats = mm.extract_features(media).collect()[0]["feature"]
    assert len(feats) == 16 and any(v for v in feats)
    out = mm.resize_images(media, 8, 8).collect()[0]
    assert mm.decode_image(bytes(out["payload"])).shape == (8, 8, 3)


def test_media_kernels_tolerate_null_payloads(spark):
    """A NULL payload row must not kill the job in ANY real kernel:
    extract_features maps it to the zero vector, resize_images passes it
    through untouched, sample_frames emits no frames for it."""
    import numpy as np

    img = np.zeros((4, 4, 3), dtype=np.uint8)
    vid = _y4m([np.full((4, 4), 9, dtype=np.uint8)], fps=(2, 1))
    rows = [(1, bytearray(_ppm(img))), (2, None)]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    media = mm.attach_media(df, "media_id", "payload", "image/x-portable-pixmap")

    feats = {r["media_id"]: r["feature"] for r in mm.extract_features(media).collect()}
    assert feats[2] == [0.0] * 16

    out = {r["media_id"]: r for r in mm.resize_images(media, 2, 2).collect()}
    assert out[2]["payload"] is None
    assert out[2]["mime"] == "image/x-portable-pixmap"  # untouched
    assert mm.decode_image(bytes(out[1]["payload"])).shape == (2, 2, 3)

    vrows = [(1, bytearray(vid)), (2, None)]
    vdf = spark.createDataFrame(vrows, "media_id long, payload binary")
    vmedia = mm.attach_media(vdf, "media_id", "payload", "video/x-yuv4mpeg")
    frames = mm.sample_frames(vmedia, every_ms=1000).collect()
    assert {r["media_id"] for r in frames} == {1}


def test_streaming_ivf_append(spark, tmp_path):
    """Streaming twin of append_ivf_store: micro-batches assign to the
    committed centroids and land in idempotent batch=<id> dirs; the
    unioned read serves them with cell pruning intact; a replayed batch
    overwrites itself (no duplicates); compaction folds the stream tree
    into the base and clears it."""
    import glob as _glob

    from pyspark.sql import functions as F

    from bikidata_spark.operators.similarity import (
        compact_ivf_store,
        ivf_store_topk,
        read_ivf_store,
        write_ivf_store,
    )
    from bikidata_spark.streaming.similarity import start_ivf_append

    def vecs(ids):
        return spark.createDataFrame(
            [(i, [float((i * 13 + d * 7) % 11) for d in range(6)]) for i in ids],
            "vec_id long, embedding array<double>",
        )

    store = str(tmp_path / "ivf")
    write_ivf_store(vecs(range(30)), store, centroid_step=7)

    src = str(tmp_path / "src")
    vecs(range(30, 40)).write.parquet(src)
    stream = spark.readStream.schema("vec_id long, embedding array<double>").parquet(src)
    q = start_ivf_append(stream, store, str(tmp_path / "ckpt"))
    q.awaitTermination(60)

    # both trees open with the writer's schemas: no Spark job
    sc = spark.sparkContext
    sc.setJobGroup("ivf-stream-open", "probe")
    try:
        vectors, cents = read_ivf_store(spark, store)
        jobs = sc.statusTracker().getJobIdsForGroup("ivf-stream-open")
    finally:
        sc.setJobGroup(None, None)
    assert len(jobs) == 0, f"read_ivf_store scheduled Spark jobs: {jobs}"
    assert vectors.count() == 40
    # streamed rows are served: a query vector equal to an appended one
    # must rank it first among probed neighbors
    top = ivf_store_topk(vectors, cents, vecs([35]), k=3).collect()
    by_q = {(r["qid"], r["rank"]): r["neighbor"] for r in top}
    # vec 35's embedding repeats mod 11 → its exact twins (24, 13, 2)
    # share the embedding; rank 1 must be one of them
    assert by_q[(35, 1)] in (2, 13, 24)
    # pruning: the probed scan carries a static cell filter on BOTH trees
    cells = sorted(
        r["cell"]
        for r in vectors.filter(F.col("nid") == 35).select("cell").collect()
    )
    import re as _re

    pruned_plan = vectors.filter(F.col("cell").isin(cells))._jdf.queryExecution().executedPlan().toString()
    # BOTH trees' FileScans must carry the cell partition filter
    assert len(_re.findall(r"PartitionFilters: \[[^\]]*cell", pruned_plan)) >= 2, pruned_plan

    # replay: a fresh checkpoint reprocesses the same source files as
    # the same batch ids — the overwrite dirs make that a no-op
    q2 = start_ivf_append(
        spark.readStream.schema("vec_id long, embedding array<double>").parquet(src),
        store,
        str(tmp_path / "ckpt2"),
    )
    q2.awaitTermination(60)
    assert read_ivf_store(spark, store)[0].count() == 40

    # compaction folds the stream tree away; contents unchanged
    out = compact_ivf_store(spark, store)
    assert out["vectors"] == 40
    assert not _glob.glob(f"{store}/vectors_stream/batch=*")
    vectors2, _ = read_ivf_store(spark, store)
    assert vectors2.count() == 40
    assert {r["nid"] for r in vectors2.filter("nid >= 30").collect()} == set(range(30, 40))

    # a full rebuild SUBSUMES streamed appends: stream more rows, then
    # rebuild from a fresh corpus — the stale stream tree (old-centroid
    # cell ids) must not leak into the unioned read
    vecs(range(40, 45)).write.parquet(str(tmp_path / "src2"))
    q3 = start_ivf_append(
        spark.readStream.schema("vec_id long, embedding array<double>").parquet(
            str(tmp_path / "src2")
        ),
        store,
        str(tmp_path / "ckpt3"),
    )
    q3.awaitTermination(60)
    assert read_ivf_store(spark, store)[0].count() == 45
    write_ivf_store(vecs(range(20)), store, centroid_step=7)
    assert read_ivf_store(spark, store)[0].count() == 20


def test_gif_roundtrip_and_interlace():
    """GIF87a/89a decode: encoder round-trip for <=256-color images
    (exact), LZW dictionary growth across width boundaries, and
    4-pass interlacing."""
    import numpy as np

    from bikidata_spark.functions.gif import decode_gif, encode_gif

    rng = np.random.default_rng(5)
    # >budget pixels of a many-color image exercises CLEAR re-emission
    pal = rng.integers(0, 256, (200, 3), dtype=np.uint8)
    idx = rng.integers(0, 200, (37, 23))
    img = pal[idx]
    assert np.array_equal(decode_gif(encode_gif(img)), img)

    # tiny two-color image: min_code_size floor of 2
    bw = np.zeros((5, 9, 3), dtype=np.uint8)
    bw[:, ::2] = 255
    assert np.array_equal(decode_gif(encode_gif(bw)), bw)

    # hand-build an interlaced variant: rows permuted into pass order
    plain = encode_gif(img)
    h = 37
    order = [r for s, st in ((0, 8), (4, 8), (2, 4), (1, 2)) for r in range(s, h, st)]
    inter_img = img[order]
    inter = bytearray(encode_gif(inter_img))
    # image descriptor starts after header(6)+lsd(7)+gct: flip interlace bit
    gct_size = inter[10] & 0x07
    desc = 13 + 3 * (2 << gct_size)
    assert inter[desc] == 0x2C
    inter[desc + 9] |= 0x40
    assert np.array_equal(decode_gif(bytes(inter)), img)


def test_gif_through_media_pipeline(spark):
    """GIF payloads flow through the Spark media kernels via magic-byte
    dispatch: features and resize both work."""
    import numpy as np

    from bikidata_spark.functions.gif import encode_gif

    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, (12, 10, 3), dtype=np.uint8)
    img = (img // 32) * 32  # <=256 distinct colors not guaranteed; coarsen
    df = spark.createDataFrame(
        [(1, bytearray(encode_gif(img)))], "media_id long, payload binary"
    )
    media = mm.attach_media(df, "media_id", "payload", "image/gif")
    assert np.array_equal(
        mm.decode_image(bytes(df.first()["payload"])), img
    )
    feats = mm.extract_features(media).collect()[0]["feature"]
    assert len(feats) == 16 and any(v for v in feats)
    out = mm.resize_images(media, 6, 6).collect()[0]
    assert mm.decode_image(bytes(out["payload"])).shape == (6, 6, 3)


def test_gif_validation_and_canvas():
    """Truncation and bad shapes raise ValueError (the decode_image
    contract); a first frame smaller than the logical screen composites
    onto the background-colored canvas at its declared offset."""
    import numpy as np
    import pytest as _pytest

    from bikidata_spark.functions.gif import decode_gif, encode_gif

    for bad in (b"GIF89a\x01\x00", b"GIF89a" + b"\x00" * 20):
        with _pytest.raises(ValueError):
            decode_gif(bad)
    with _pytest.raises(ValueError):
        encode_gif(np.zeros((3, 4, 4), dtype=np.uint8))  # RGBA
    with _pytest.raises(ValueError):
        encode_gif(np.zeros((1, 70000, 3), dtype=np.uint8))  # > u16 max

    img = np.zeros((3, 4, 3), dtype=np.uint8)
    img[:, :2] = 255  # colors sorted ascending -> bg index 0 = black
    raw = bytearray(encode_gif(img))
    h, w = 3, 4
    raw[6:8] = (w + 2).to_bytes(2, "little")  # widen the logical screen
    raw[8:10] = (h + 1).to_bytes(2, "little")
    size = 2 << (raw[10] & 0x07)
    desc = 13 + 3 * size
    assert raw[desc] == 0x2C
    raw[desc + 1 : desc + 3] = (1).to_bytes(2, "little")  # left
    raw[desc + 3 : desc + 5] = (1).to_bytes(2, "little")  # top
    out = decode_gif(bytes(raw))
    assert out.shape == (h + 1, w + 2, 3)
    assert np.array_equal(out[1 : 1 + h, 1 : 1 + w], img)
    assert not out[0].any() and not out[:, 0].any()  # black background


def test_cli_serve_forked_pool(spark, tmp_path, capsys, monkeypatch):
    """`serve` with BIKIDATA_SPARK_SERVE_PROCS forks the read-only
    worker pool after warming the tier: queries serve from the forks,
    mutations apply through the parent and are visible to the next
    query. Drives the real CLI loop over a scripted stdin."""
    import io

    from bikidata_spark.__main__ import main as cli

    src = tmp_path / "d.nt"
    src.write_text(
        '<http://ex/a> <http://p/name> "Alice" .\n'
        '<http://ex/b> <http://p/desc> "graphs and spark" .\n'
    )
    store = str(tmp_path / "servestore")
    assert cli(["build", store, str(src)]) == 0
    capsys.readouterr()

    monkeypatch.setenv("BIKIDATA_SPARK_SERVE_PROCS", "2")
    lines = [
        json.dumps({"filters": [{"p": "fts", "o": "spark"}], "size": 5}),
        json.dumps({"action": "insert",
                    "data": [{"s": "<http://ex/z>", "p": "<http://p/name>", "o": '"Zed"'}]}),
        json.dumps({"filters": [{"p": "<http://p/name>", "o": '"Zed"'}], "size": 5}),
    ]
    monkeypatch.setattr("sys.stdin", io.StringIO("\n".join(lines) + "\n"))
    assert cli(["serve", store, "4"]) == 0
    out = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert out[0]["total"] == 1 and "<http://ex/b>" in out[0]["results"]
    assert out[1]["triples_inserted"] == 1
    assert out[2]["total"] == 1 and "<http://ex/z>" in out[2]["results"]
