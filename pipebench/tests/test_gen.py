import hashlib
import os

import pandas as pd

from pipebench import gen


def _digest(d):
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        h.update(name.encode())
        with open(os.path.join(d, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _transcripts(tmp_path, name, seed, stream=False):
    d = tmp_path / name
    d.mkdir()
    if stream:
        gen.write_stream_files(str(d), 40, 3, seed)
    else:
        gen.write_transcript_files(str(d), 60, 4, seed, procs=1)
    return str(d)


def test_same_seed_same_bytes(tmp_path):
    assert _digest(_transcripts(tmp_path, "a", 7)) == _digest(_transcripts(tmp_path, "b", 7))
    assert _digest(_transcripts(tmp_path, "c", 7, True)) == _digest(_transcripts(tmp_path, "d", 7, True))
    for a, b in ((tmp_path / "q1", tmp_path / "q2"),):
        a.mkdir()
        b.mkdir()
        gen.write_query_dir(str(a), 7)
        gen.write_query_dir(str(b), 7)
        assert _digest(str(a)) == _digest(str(b))


def test_seed_changes_content_not_shape(tmp_path):
    a = pd.read_parquet(_transcripts(tmp_path, "a", 1))
    b = pd.read_parquet(_transcripts(tmp_path, "b", 2))
    turns = lambda df: df.groupby("conv_id").size().to_dict()  # noqa: E731
    assert turns(a) == turns(b)  # conversation count, turn counts, hot skew
    assert not a["text"].equals(b["text"])


def test_stream_cuts_straddle_entries(tmp_path):
    d = _transcripts(tmp_path, "s", 3, stream=True)
    parts = [pd.read_parquet(os.path.join(d, f)) for f in sorted(os.listdir(d))]
    assert len(parts) == 3
    for prev, nxt in zip(parts, parts[1:]):
        assert prev["ts"].max() <= nxt["ts"].min()  # event-time order
        first = nxt.iloc[0]
        # each file after the first opens on a continuation line whose
        # entry started in an earlier file
        assert first["text"][:1] in (" ", "\t") and first["turn_idx"] > 0
        assert first["conv_id"] in set(prev["conv_id"])
    sizes = [
        sorted(pd.read_parquet(_transcripts(tmp_path, f"s{seed}", seed, True)).groupby("conv_id").size())
        for seed in (4, 5)
    ]
    assert sizes[0] == sizes[1]


def test_query_dir_shape_fixed_across_seeds():
    docs = [gen.documents_frame(seed) for seed in (1, 2)]

    def dup_graph(df):
        first = {}
        edges = set()
        for i, t in zip(df["doc_id"], df["text"]):
            if t.endswith(" dup") and t[: -len(" dup")] in first:
                edges.add((first[t[: -len(" dup")]], int(i)))
            elif t in first:
                edges.add((first[t], int(i)))
            first.setdefault(t, int(i))
        return edges

    g1, g2 = dup_graph(docs[0]), dup_graph(docs[1])
    assert g1 == g2
    assert len(g1) == gen.DOC_NEAR_DUPS + gen.DOC_EXACT_DUPS
    assert not docs[0]["text"].equals(docs[1]["text"])
    ev = [gen.events_frame(seed) for seed in (1, 2)]
    assert [len(e) for e in ev] == [gen.EVENT_ROWS] * 2
    assert [e["user_id"].nunique() for e in ev] == [gen.EVENT_USERS] * 2
    assert not ev[0]["event_type"].equals(ev[1]["event_type"])
