"""Generators: deterministic per seed, ground truth consistent with the
bytes the engine receives."""

import json

import numpy as np

from perfbench import gen


def test_spool_is_byte_identical_per_seed():
    a = gen.spool_bytes(gen.messages(7, 3000))
    b = gen.spool_bytes(gen.messages(7, 3000))
    c = gen.spool_bytes(gen.messages(8, 3000))
    assert a == b
    assert a != c


def test_spool_lines_parse_and_carry_ids():
    ms = gen.messages(3, 2000)
    lines = gen.spool_bytes(ms).decode().splitlines()
    assert len(lines) == len(ms)
    torn = 0
    for i, line in enumerate(lines):
        rec = json.loads(line)
        assert rec["topic"] == ms.topics[i]
        assert int(gen.ID_RE.search(rec["payload"]).group(1)) == i
        try:
            json.loads(rec["payload"])
        except ValueError:
            torn += 1
    assert torn == int(ms.bad.sum())


def test_message_mix_matches_pinned_shares():
    ms = gen.messages(11, 50_000)
    n = len(ms)
    assert abs((ms.kind == gen.KIND_SENSOR).mean() - gen.SHARE_SENSOR) < 0.01
    assert abs((ms.kind == gen.KIND_DEVICE).mean() - gen.SHARE_DEVICE) < 0.01
    assert abs(ms.bad.mean() - gen.BAD_JSON_SHARE) < 0.005
    # Zipf skew: the hottest key carries far more than a uniform share
    keys = [t.split("/")[1] for t in ms.topics]
    _, counts = np.unique(keys, return_counts=True)
    assert counts.max() > 50 * n / gen.N_KEYS


def test_expected_counts_reference_semantics():
    ms = gen.messages(5, 20_000)
    want = ms.expected_counts(quarantine=False)
    device = ms.kind == gen.KIND_DEVICE
    # every message lands in exactly one route table ...
    landed = want[gen.TABLE_TEMPS] + want[gen.TABLE_RAW] + (want[gen.TABLE_METRICS] > 0)
    assert (landed == 1).all()
    # ... and a valid device alert emits a second record
    assert want[gen.TABLE_METRICS].sum() == device.sum() + (device & ms.alert & ~ms.bad).sum()
    assert gen.TABLE_QUARANTINE not in want


def test_expected_counts_with_quarantine():
    ms = gen.messages(5, 20_000)
    want = ms.expected_counts(quarantine=True)
    assert (want[gen.TABLE_QUARANTINE] == ms.bad).all()
    for t in gen.INGEST_TABLES:
        assert want[t][ms.bad].sum() == 0


def test_schedule_is_open_loop_fixed_rate():
    s = gen.schedule(250.0, 4.0)
    assert len(s) == 1000
    assert np.allclose(np.diff(s), 1 / 250.0)


def test_corpus_is_deterministic_per_seed():
    a = gen.corpus(9, 1500)
    b = gen.corpus(9, 1500)
    assert a.texts == b.texts
    assert np.array_equal(a.embeddings, b.embeddings)
    assert (a.exact_of, a.near_of, a.sem_of) == (b.exact_of, b.near_of, b.sem_of)
    assert gen.corpus(10, 1500).texts != a.texts


def test_corpus_ground_truth():
    c = gen.corpus(4, 4000)
    n = len(c)
    dup_ids = set(c.exact_of) | set(c.near_of) | set(c.sem_of)
    sources = set(c.exact_of.values()) | set(c.near_of.values()) | set(c.sem_of.values())
    # every dup points at an earlier, good, non-dup original used once
    assert all(j < i for d in (c.exact_of, c.near_of, c.sem_of) for i, j in d.items())
    assert not (sources & dup_ids)
    assert len(sources) == len(dup_ids)
    assert not c.low[list(sources)].any()
    assert abs(c.low.mean() - 0.2) < 0.03
    for i, j in c.exact_of.items():
        assert c.texts[i] == c.texts[j]
    for i, j in c.near_of.items():
        a, b = c.texts[i].split(), c.texts[j].split()
        assert len(a) == len(b) and 1 <= sum(x != y for x, y in zip(a, b)) <= 2
    for i, j in c.sem_of.items():
        u, v = c.embeddings[i], c.embeddings[j]
        assert u @ v / np.linalg.norm(u) / np.linalg.norm(v) > 0.99
    assert len(c.texts) == n == len(c.embeddings)
