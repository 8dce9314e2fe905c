"""Seeded inputs for the benchmark: corpus, queries, profiles and deltas.

The corpus is fixed (drawn from CORPUS_SEED), so one index built from it
serves every run in a checkout; the run's --seed draws the queries, the
profiles and the delta. The corpus follows the shape of bench.py's
`synth_transcripts_zipf` (word rank floor(VOCAB * u**2), so low ranks are
frequent) but is generated driver-side, which lets the pure-Python oracle
see exactly the rows Spark indexes. conv_ids are opaque hex strings, so the
index assigns doc ids through its generic rank path.
"""
from __future__ import annotations

import random
from dataclasses import dataclass, replace
from datetime import date, datetime, timedelta, timezone

CORPUS_SEED = 20260102  # the corpus is fixed; --seed draws queries, profiles, deltas
N_CONVS = 2048
TURNS_PER_CONV = 4
WORDS_PER_TURN = 40
VOCAB = 50_000
SEG_SIZE = 256  # 2048 / 256 = 8 segments: 2 per core at local[4]
QUERY_WORDS = 4
SPREAD_DAYS = 1100  # conversation ages reach the 10th of the 11 ladder buckets

TODAY = date(2026, 1, 2)
END_DAYS_AGO = 7
NOW = datetime(2026, 1, 2, 12, 0, 0, tzinfo=timezone.utc)


@dataclass(frozen=True)
class Conv:
    conv_id: str
    turns: tuple[str, ...]
    last_ts: datetime  # turn i has ts = last_ts - (n-1-i) minutes

    def rows(self) -> list[tuple]:
        n = len(self.turns)
        return [
            (
                self.conv_id, i, "user" if i % 2 == 0 else "assistant", text,
                None, self.last_ts - timedelta(minutes=n - 1 - i),
            )
            for i, text in enumerate(self.turns)
        ]

    @property
    def update_date(self) -> str:
        return self.last_ts.strftime("%Y%m%d")


def _word(rng: random.Random) -> str:
    return f"w{int(VOCAB * rng.random() ** 2)}"


def _text(rng: random.Random, n: int) -> str:
    return " ".join(_word(rng) for _ in range(n))


def make_corpus(rng: random.Random, n_convs: int = N_CONVS) -> list[Conv]:
    ids: set[str] = set()
    convs = []
    while len(convs) < n_convs:
        cid = f"c{rng.getrandbits(48):012x}"
        if cid in ids:
            continue
        ids.add(cid)
        age = END_DAYS_AGO + int(rng.random() ** 1.5 * SPREAD_DAYS)
        convs.append(
            Conv(
                cid,
                tuple(_text(rng, WORDS_PER_TURN) for _ in range(TURNS_PER_CONV)),
                NOW - timedelta(days=age, hours=rng.randint(1, 12)),
            )
        )
    return convs


def make_queries(rng: random.Random, n: int) -> list[str]:
    """Queries drawn from the corpus's own term distribution."""
    return [_text(rng, QUERY_WORDS) for _ in range(n)]


def make_profiles(
    rng: random.Random, n: int, dup_share: float
) -> list[tuple[str, str, str]]:
    """(user, name, content) profiles; `dup_share` of them repeat the
    content of an earlier profile exactly."""
    n_dup = int(n * dup_share)
    contents = make_queries(rng, n - n_dup)
    contents += [rng.choice(contents) for _ in range(n_dup)]
    rng.shuffle(contents)
    return [(f"user{i % 16}", f"profile{i}", c) for i, c in enumerate(contents)]


def make_delta(rng: random.Random, live: dict[str, Conv], n: int) -> list[Conv]:
    """About `n` convs: half new conv_ids, half updates of existing ones.
    An update re-sends the whole conversation plus one new turn, dated on
    the last day the search window covers; targets favour the most recently
    active convs. Only convs with an older update_date are targets, so the
    index applies every update (it skips those that are not newer)."""
    ts = NOW - timedelta(days=END_DAYS_AGO - 1)
    day = ts.strftime("%Y%m%d")
    newest = sorted(
        (c for c in live.values() if c.update_date < day),
        key=lambda c: (c.last_ts, c.conv_id), reverse=True,
    )
    n_upd = n // 2
    upd_ids: set[str] = set()
    while len(upd_ids) < n_upd:
        upd_ids.add(newest[int(len(newest) * rng.random() ** 3)].conv_id)
    out = [
        replace(live[cid], turns=live[cid].turns + (_text(rng, WORDS_PER_TURN),), last_ts=ts)
        for cid in sorted(upd_ids)
    ]
    fresh = make_corpus(rng, n - n_upd)
    return out + [c for c in fresh if c.conv_id not in live]
