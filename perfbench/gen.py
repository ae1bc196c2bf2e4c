"""Seeded input generators and their ground truth.

Everything here is plain Python + NumPy: the engine never sees this
module, only the files and frames it writes. The same seed gives
byte-identical spools and corpora (``tests/test_gen.py`` pins it).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import numpy as np

# Route mix of the ingest workloads. ``sensors/+/temp`` is the native
# route, ``devices/#`` the Python record-transform route, everything
# else (including the near-miss ``sensors/<k>/temp/raw`` topics, which
# the single-level ``+`` filter must NOT match) falls through to the
# ``iot_raw`` passthrough.
SHARE_SENSOR = 0.45
SHARE_DEVICE = 0.35
SHARE_NEAR_MISS = 0.05
BAD_JSON_SHARE = 0.02
ALERT_SHARE = 0.10
ZIPF_A = 1.3
N_KEYS = 5000
BASE_TIME = 1_700_000_000.0

TABLE_TEMPS = "temps"
TABLE_METRICS = "metrics"
TABLE_RAW = "iot_raw"
TABLE_QUARANTINE = "_quarantine"
INGEST_TABLES = (TABLE_TEMPS, TABLE_METRICS, TABLE_RAW)

# every payload, valid or torn, carries its message id in this form
ID_PATTERN = r'"id": (\d+)'
ID_RE = re.compile(ID_PATTERN)

KIND_SENSOR, KIND_DEVICE, KIND_OTHER = 0, 1, 2
Q, BQ = '"', '\\"'  # a quote, and the same quote escaped in a JSON string


@dataclass
class MessageSet:
    """A generated message sequence plus its ground truth.

    ``kind`` is the route each message's topic matches, ``bad`` marks
    payloads that are not JSON, ``alert`` marks device messages whose
    record transform emits a second record."""

    topics: list[str]
    payloads: list[str]
    kind: np.ndarray
    bad: np.ndarray
    alert: np.ndarray

    def __len__(self) -> int:
        return len(self.topics)

    def expected_counts(self, quarantine: bool) -> dict[str, np.ndarray]:
        """Rows each message id must produce in each table.

        Reference semantics (no quarantine): a torn payload still lands
        in its route's table — the native route keeps it with a null
        temperature, the record route emits one error record, the
        passthrough keeps the raw bytes. With quarantine every torn
        payload lands in ``_quarantine`` and nowhere else."""
        good = ~self.bad if quarantine else np.ones(len(self), bool)
        sensor = (self.kind == KIND_SENSOR) & good
        device = (self.kind == KIND_DEVICE) & good
        other = (self.kind == KIND_OTHER) & good
        metrics = device.astype(np.int64) + (device & self.alert & ~self.bad)
        out = {
            TABLE_TEMPS: sensor.astype(np.int64),
            TABLE_METRICS: metrics,
            TABLE_RAW: other.astype(np.int64),
        }
        if quarantine:
            out[TABLE_QUARANTINE] = self.bad.astype(np.int64)
        return out


def messages(seed: int, n: int, id_base: int = 0) -> MessageSet:
    """``n`` messages with ids ``id_base..id_base+n-1``: Zipf-skewed
    topic keys, about 2% torn (non-JSON) payloads, 10% of device
    messages carrying an alert."""
    rng = np.random.default_rng(seed)
    u = rng.random(n)
    keys = (rng.zipf(ZIPF_A, n) - 1) % N_KEYS
    temps = np.round(rng.uniform(-20.0, 40.0, n), 2)
    bad = rng.random(n) < BAD_JSON_SHARE
    alert_draw = rng.random(n) < ALERT_SHARE
    kind = np.full(n, KIND_OTHER, np.int8)
    kind[u < SHARE_SENSOR] = KIND_SENSOR
    kind[(u >= SHARE_SENSOR) & (u < SHARE_SENSOR + SHARE_DEVICE)] = KIND_DEVICE
    near_miss = (u >= SHARE_SENSOR + SHARE_DEVICE) & (
        u < SHARE_SENSOR + SHARE_DEVICE + SHARE_NEAR_MISS
    )
    alert = alert_draw & (kind == KIND_DEVICE)
    prefix = np.where(
        kind == KIND_SENSOR,
        "sensors/s",
        np.where(kind == KIND_DEVICE, "devices/d", np.where(near_miss, "sensors/s", "misc/m")),
    ).tolist()
    suffix = np.where(
        kind == KIND_SENSOR,
        "/temp",
        np.where(kind == KIND_DEVICE, "/state", np.where(near_miss, "/temp/raw", "/log")),
    ).tolist()
    tail = np.where(alert, ', "alert": 1', "")
    tail = np.char.add(tail, np.where(bad, "", "}")).tolist()
    topics = [f"{p}{k}{s}" for p, k, s in zip(prefix, keys.tolist(), suffix)]
    # a torn payload: the closing brace never arrived
    payloads = [
        f'{{"id": {i}, "t": {t}{tl}'
        for i, t, tl in zip(range(id_base, id_base + n), temps.tolist(), tail)
    ]
    return MessageSet(topics, payloads, kind, bad, alert)


def spool_bytes(ms: MessageSet) -> bytes:
    """The replay spool (one JSON message per line, unix-seconds time
    1 ms apart) — built by string formatting rather than ``json.dumps``
    per line, because a 10^5-line spool is generated every run."""
    lines = [
        f'{{"time": {BASE_TIME + i * 0.001:.3f}, "topic": "{topic}", '
        f'"qos": {i & 1}, "retain": false, "payload": "{payload.replace(Q, BQ)}"}}\n'
        for i, (topic, payload) in enumerate(zip(ms.topics, ms.payloads))
    ]
    return "".join(lines).encode("utf-8")


def write_spool(path: str, ms: MessageSet) -> int:
    data = spool_bytes(ms)
    with open(path, "wb") as fh:
        fh.write(data)
    return len(data)


def schedule(rate: float, seconds: float) -> np.ndarray:
    """Open-loop send offsets (s from phase start) at a fixed rate."""
    return np.arange(int(round(rate * seconds))) / float(rate)


# --------------------------------------------------------------- curate

STOPWORDS = (
    "the", "and", "of", "to", "a", "in", "is", "that", "for", "it", "as",
    "was", "with", "be", "by", "on", "not", "he", "this", "are", "or",
    "his", "from", "at", "which", "but", "have", "an", "had", "they",
)
VOCAB_SIZE = 20000


@dataclass
class Corpus:
    """A curation corpus plus its ground truth.

    - ``low`` docs fail the quality model (short, symbol-heavy);
    - ``exact_of[i] = j`` means doc i is a byte copy of good doc j < i;
    - ``near_of[i] = j``: doc i is good doc j with a few words replaced;
    - ``sem_of[i] = j``: doc i's embedding is doc j's plus small noise
      (text unrelated, so only the embedding stage can catch it).
    Every dup points at a lower id, so keep-min-id survivors are the
    originals."""

    texts: list[str]
    embeddings: np.ndarray
    low: np.ndarray
    exact_of: dict[int, int] = field(default_factory=dict)
    near_of: dict[int, int] = field(default_factory=dict)
    sem_of: dict[int, int] = field(default_factory=dict)

    def __len__(self) -> int:
        return len(self.texts)


def _spell(rank: int) -> str:
    letters = "etaoinshrdlucmfwypvbgkqjxz"
    out = ""
    while True:
        rank, d = divmod(rank, 26)
        out += letters[d]
        if rank == 0 and len(out) >= 3:
            return out


_VOCAB = [_spell(r) for r in range(VOCAB_SIZE)]


def _words(rng: np.random.Generator, n: int) -> list[str]:
    ranks = np.minimum(rng.zipf(1.15, n), VOCAB_SIZE) - 1
    stop = rng.random(n) < 0.3
    sw = rng.integers(0, len(STOPWORDS), n)
    return [
        STOPWORDS[sw[j]] if stop[j] else _VOCAB[ranks[j]] for j in range(n)
    ]


def _doc(rng: np.random.Generator) -> str:
    return " ".join(_words(rng, int(rng.integers(120, 200))))


def corpus(
    seed: int,
    n: int,
    dim: int = 32,
    low_share: float = 0.2,
    exact_share: float = 0.05,
    near_share: float = 0.05,
    sem_share: float = 0.03,
    sem_noise: float = 0.01,
) -> Corpus:
    rng = np.random.default_rng(seed)
    role = rng.random(n)
    cut_low = low_share
    cut_exact = cut_low + exact_share
    cut_near = cut_exact + near_share
    cut_sem = cut_near + sem_share
    texts: list[str] = []
    low = np.zeros(n, bool)
    emb = rng.standard_normal((n, dim))
    # originals a dup may point at: good docs that are themselves not
    # dups and not yet used as a source (so every injected pair is a
    # separate component and recall is exact to count)
    sources: list[int] = []
    c = Corpus(texts, emb, low)
    for i in range(n):
        r = role[i]
        if r < cut_low:
            low[i] = True
            k = int(rng.integers(8, 24))
            texts.append(" ".join(f"#{w}!!$%" for w in _words(rng, k)))
        elif r < cut_sem and len(sources) > 16:
            j = sources.pop(int(rng.integers(0, len(sources))))
            if r < cut_exact:
                texts.append(texts[j])
                c.exact_of[i] = j
            elif r < cut_near:
                toks = texts[j].split(" ")
                for p in rng.choice(len(toks), 2, replace=False):
                    toks[p] = f"edit{_VOCAB[i % VOCAB_SIZE]}"
                texts.append(" ".join(toks))
                c.near_of[i] = j
            else:
                texts.append(_doc(rng))
                noise = rng.standard_normal(dim) / np.sqrt(dim)
                emb[i] = emb[j] + sem_noise * np.linalg.norm(emb[j]) * noise
                c.sem_of[i] = j
        else:
            texts.append(_doc(rng))
            sources.append(i)
    c.embeddings = np.round(emb, 6)
    return c
