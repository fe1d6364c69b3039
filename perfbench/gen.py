"""Seeded input generators and expected-result replays for the benchmark.

Everything here is pure Python and imports nothing from the program under
test: the expectations a run checks against are replayed from the
generator's own change log, never read back through ``ZoneStore``.

Three inputs are generated:

- an *xfr store* (workload ``xfr_snapshot``): zones of Zipf-skewed size,
  all at one current serial, whose change logs are several times the size
  of their live sets; about a quarter of them are provisioned with a
  journal truncated above serial 1;
- a *ddns feed* (workload ``ddns_cdc``): a small store plus a fixed-shape
  sequence of update batches with duplicate keys, un-normalised fqdns and
  deletes of live records;
- an *events table* (workload ``catalog_serve``): the ``events.parquet``
  rows the change-log catalog queries derive their ``dns_changes`` feed
  from, with many events per change key.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass

AXFR = "AXFR"
ADD = "IXFR_ADD"
DELETE = "IXFR_DELETE"

#: Value of the ``organization`` option every benchmark read sets; the
#: checks expect it back in every row.
ORGANIZATION = "perfbench"


# -- change logs ----------------------------------------------------------


@dataclass
class ZoneSpec:
    """One generated zone: its full change log and how much of it the
    provisioned journal keeps.

    ``log`` is ``[(serial, action, fqdn, ip)]`` in apply order.
    ``journal_from`` is the first serial the provisioned journal keeps
    (1 = complete journal)."""

    name: str
    serial: int
    log: list[tuple[int, str, str, str]]
    journal_from: int = 1
    rank: int = 0  # size rank, 0 = largest

    @property
    def truncated(self) -> bool:
        return self.journal_from > 1

    def live(self, upto: int | None = None) -> set[tuple[str, str]]:
        """Live (fqdn, ip) set after replaying the log up to ``upto``."""
        return replay(self.log, upto)

    def journal(self) -> list[tuple[int, str, str, str]]:
        return [h for h in self.log if h[0] >= self.journal_from]

    def journal_base(self) -> int:
        """Oldest serial an IXFR can start from without a snapshot
        fallback.  A journal that replays from the empty set to the live
        set is anchored just below its first entry; one that does not
        (its start was cut off) can only be served as a snapshot of the
        current serial — the provisioning contract of a zone store that
        is handed ``records`` plus a partial ``history``."""
        if replay(self.journal()) == self.live():
            return self.journal_from - 1
        return self.serial


def replay(
    log: list[tuple[int, str, str, str]], upto: int | None = None
) -> set[tuple[str, str]]:
    """Forward-replay a change log from the empty set."""
    recs: set[tuple[str, str]] = set()
    for serial, action, fqdn, ip in log:
        if upto is not None and serial > upto:
            break
        if action == DELETE:
            recs.discard((fqdn, ip))
        else:
            recs.add((fqdn, ip))
    return recs


def zipf_sizes(n: int, total: int, floor: int) -> list[int]:
    """Deterministic Zipf sizes by rank, ``floor`` minimum each."""
    weights = [1.0 / (r + 1) for r in range(n)]
    scale = (total - floor * n) / sum(weights)
    return [floor + int(w * scale) for w in weights]


def _ip(rng: random.Random) -> str:
    return f"10.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(1, 255)}"


def _zone_log(
    rng: random.Random, zone: str, live_target: int, serial: int, churn: int
) -> list[tuple[int, str, str, str]]:
    """A log of ``churn * live_target`` changes over serials 1..serial,
    every serial non-empty, ending near ``live_target`` live records.
    Serial 1 holds the zone's initial load (adds only); later serials
    mix adds with deletes of live records."""
    n_changes = max(churn * live_target, 2 * serial)
    # adds - deletes = live_target, adds + deletes = n_changes
    n_del = (n_changes - live_target) // 2
    head = max(1, n_changes // 4)
    tail = [DELETE] * n_del + [ADD] * (n_changes - n_del - head)
    rng.shuffle(tail)
    actions = [ADD] * head + tail
    # chunk ends: serial 1 = the initial load, then near-equal chunks
    rest = n_changes - head
    ends = [head] + [head + rest * k // (serial - 1) for k in range(1, serial)]
    log: list[tuple[int, str, str, str]] = []
    live: list[tuple[str, str]] = []
    counter = 0
    pos = 0
    for s, end in enumerate(ends, start=1):
        while pos < end:
            action = actions[pos]
            pos += 1
            if action == DELETE and live:
                k = rng.randrange(len(live))
                live[k], live[-1] = live[-1], live[k]
                rec = live.pop()
                log.append((s, DELETE, rec[0], rec[1]))
            else:
                counter += 1
                rec = (f"h{counter}.{zone}", _ip(rng))
                live.append(rec)
                log.append((s, ADD, rec[0], rec[1]))
    return log


@dataclass
class XfrStore:
    """The ``xfr_snapshot`` input: zones sorted by name."""

    zones: list[ZoneSpec]
    serial: int

    def by_name(self) -> dict[str, ZoneSpec]:
        return {z.name: z for z in self.zones}


def gen_xfr_store(
    seed: int,
    n_zones: int = 24,
    serial: int = 48,
    live_total: int = 4_000,
    churn: int = 3,
    truncated_share: float = 0.25,
) -> XfrStore:
    """Zones with Zipf-skewed live sets (rank shuffled by seed), all at
    ``serial``; ``churn`` x live-set changes per log; a quarter of the
    zones keep only the journal above a seeded serial > 1."""
    rng = random.Random(f"xfr:{seed}")
    sizes = zipf_sizes(n_zones, live_total, floor=8)
    # the seed decides which zone gets which size rank; the ranks that
    # are truncated are fixed, so every seed moves the same row counts
    ranks = list(range(n_zones))
    rng.shuffle(ranks)
    every = round(1 / truncated_share)
    tag = rng.randrange(16**4)
    zones = []
    for i, rank in enumerate(ranks):
        name = f"z{i:02d}-{tag:04x}.xfr.example."
        log = _zone_log(rng, name, sizes[rank], serial, churn)
        journal_from = 1
        if rank % every == 1:
            journal_from = rng.randrange(serial // 4, serial // 2) + 1
        zones.append(ZoneSpec(name, serial, log, journal_from, rank))
    return XfrStore(zones=zones, serial=serial)


# -- expected transfers ---------------------------------------------------


def expect_axfr(zone: ZoneSpec) -> list[tuple[str, str, str]]:
    return [(AXFR, f, ip) for f, ip in sorted(zone.live())]


def expect_ixfr(zone: ZoneSpec, from_serial: int) -> list[tuple[str, str, str]]:
    """IXFR rows for ``from_serial`` < serial <= current.

    ``from_serial`` == 0, or below the journal base, answers with a full
    snapshot, AXFR-tagged; otherwise the answer is the log's deltas."""
    if from_serial >= zone.serial:
        return []
    if from_serial == 0 or from_serial < zone.journal_base():
        return expect_axfr(zone)
    return [(a, f, ip) for s, a, f, ip in zone.log if s > from_serial]


def read_rows(
    zone: ZoneSpec, xfr: str, from_serial: int
) -> list[tuple[str, str, str, str, str]]:
    """Rows a batch ``dns`` read of one zone returns, without the
    planning-time ``timestamp`` column:
    ``(action, fqdn, ip, organization, zone)``."""
    if xfr == "axfr":
        rows = expect_axfr(zone)
    else:
        rows = expect_ixfr(zone, from_serial)
    return [(a, f.lower(), ip, ORGANIZATION, zone.name) for a, f, ip in rows]


# -- result digests -------------------------------------------------------


def digest(rows) -> tuple[int, int]:
    """(count, order-insensitive multiset hash) of row tuples."""
    h = 0
    n = 0
    for row in rows:
        d = hashlib.blake2b(repr(tuple(row)).encode(), digest_size=8).digest()
        h = (h + int.from_bytes(d, "little")) & 0xFFFFFFFFFFFFFFFF
        n += 1
    return n, h


# -- ddns feed ------------------------------------------------------------

#: Fixed shape of one ``ddns_cdc`` round: (kind, input rows) of each
#: batch, small ones around one bulk load.  The seed picks the content,
#: never the shape.
ROUND_SHAPE = (
    ("small", 150), ("small", 450), ("small", 300), ("bulk", 10_000),
    ("small", 250), ("small", 400),
)
#: Size-rank offsets of the zones a small batch touches; the k-th small
#: batch starts at rank ``7 * k``, so every seed touches zones of the same
#: sizes at the same position.
SMALL_RANK_OFFSETS = (0, 13, 26)
SMALL_ZONES = len(SMALL_RANK_OFFSETS)


def normalize_fqdn(fqdn: str) -> str:
    fqdn = fqdn.lower()
    return fqdn if fqdn.endswith(".") else fqdn + "."


def zone_of(fqdn: str) -> str:
    """Zone of a normalised fqdn: everything after the first label."""
    return fqdn.split(".", 1)[1]


@dataclass
class Batch:
    """One update batch: rows ``(action, fqdn, ip, ts_us, ttl)`` as sent,
    and the zones they touch."""

    kind: str
    rows: list[tuple[str, str, str, int, int]]
    zones: list[str]


def expected_delta(rows) -> list[tuple[str, str, str, str, str]]:
    """Latest-wins effect of one batch as the stream delivers it: one
    row per distinct normalised ``(action, fqdn, ip)`` key, as
    ``(action, fqdn, ip, organization, zone)``."""
    keys = {(a, normalize_fqdn(f), ip) for a, f, ip, _ts, _ttl in rows}
    return [(a, f, ip, ORGANIZATION, zone_of(f)) for a, f, ip in sorted(keys)]


def _variant(rng: random.Random, fqdn: str) -> str:
    """An un-normalised spelling of a normalised fqdn."""
    r = rng.random()
    if r < 0.3:
        return fqdn[:-1]  # no trailing dot
    if r < 0.5:
        return fqdn.upper()
    if r < 0.6:
        return fqdn[:-1].title()
    return fqdn


class DdnsFeed:
    """The ``ddns_cdc`` input: a provisioned store plus a deterministic
    batch stream.  Tracks the live set by replaying its own batches so
    deletes always target live records."""

    def __init__(self, seed: int, n_zones: int = 32, live_total: int = 2_000):
        self.rng = random.Random(f"ddns:{seed}")
        tag = self.rng.randrange(16**4)
        sizes = zipf_sizes(n_zones, live_total, floor=4)
        # the seed decides which zone gets which size rank
        ranks = list(range(n_zones))
        self.rng.shuffle(ranks)
        self.zones: list[ZoneSpec] = []
        self.live: dict[str, list[tuple[str, str]]] = {}
        self._counter = 0
        for i, rank in enumerate(ranks):
            name = f"d{i:02d}-{tag:04x}.ddns.example."
            recs = [self._new_record(name) for _ in range(sizes[rank])]
            self.zones.append(
                ZoneSpec(name, 1, [(1, ADD, f, ip) for f, ip in recs], rank=rank)
            )
            self.live[name] = recs
        self.by_rank = [z.name for z in sorted(self.zones, key=lambda z: z.rank)]
        self._smalls = 0
        self._ts = 1_700_000_000_000_000

    def _new_record(self, zone: str) -> tuple[str, str]:
        self._counter += 1
        return (f"u{self._counter}.{zone}", _ip(self.rng))

    def batch(self, kind: str, n: int) -> Batch:
        """``n`` input rows over every zone (bulk) or a few of set size
        ranks (small)."""
        rng = self.rng
        names = [z.name for z in self.zones]
        if kind == "bulk":
            zones = names
        else:
            first = 7 * self._smalls
            self._smalls += 1
            zones = [self.by_rank[(first + d) % len(names)]
                     for d in SMALL_RANK_OFFSETS]
        self._ts += 10_000_000
        rows: list[tuple[str, str, str, int, int]] = []
        deleted: set[tuple[str, str]] = set()
        added: dict[str, list[tuple[str, str]]] = {}
        while len(rows) < n:
            zone = zones[rng.randrange(len(zones))]
            r = rng.random()
            ts = self._ts + rng.randrange(5_000_000)
            if r < 0.12 and rows:
                # duplicate key, different spelling and timestamp
                a, f, ip, _ts, ttl = rows[rng.randrange(len(rows))]
                rows.append((a, _variant(rng, normalize_fqdn(f)), ip, ts, ttl))
                continue
            if r < 0.40:
                cands = self.live[zone]
                if cands:
                    rec = cands[rng.randrange(len(cands))]
                    if rec not in deleted:
                        deleted.add(rec)
                        rows.append(
                            (DELETE, _variant(rng, rec[0]), rec[1], ts, 3600)
                        )
                        continue
            rec = self._new_record(zone)
            added.setdefault(zone, []).append(rec)
            action = AXFR if r > 0.9 else ADD
            rows.append((action, _variant(rng, rec[0]), rec[1], ts, 3600))
        for zone in zones:
            kept = [rec for rec in self.live[zone] if rec not in deleted]
            self.live[zone] = kept + added.get(zone, [])
        touched = sorted({zone_of(normalize_fqdn(f)) for _a, f, *_ in rows})
        return Batch(kind=kind, rows=rows, zones=touched)


# -- events table ---------------------------------------------------------

#: ``event_type`` values and their weights; ``error`` maps to a delete and
#: ``signup`` to an AXFR row in the ``dns_changes`` feed.
EVENT_TYPES = (("click", 5), ("view", 3), ("purchase", 1), ("signup", 1),
               ("error", 2))
#: ``dns_changes`` derives fqdn and ip from ``event_id`` modulo 1000, 3
#: and 256: ids this far apart map to the same change key.
KEY_CYCLE = 96_000
EVENTS_T0_US = 1_700_000_000_000_000
EVENTS_SPAN_US = 30 * 86_400 * 10**6


def gen_events(
    seed: int, n: int = 40_000, n_keys: int = 10_000, users: int = 2
) -> list[tuple[int, int, str, int, float]]:
    """Rows ``(event_id, user_id, event_type, ts_us, value)`` with unique
    event ids, about ``n / n_keys`` events per id residue (so per change
    key) and random timestamps, so latest-wins picks among several."""
    rng = random.Random(f"events:{seed}")
    residues = rng.sample(range(KEY_CYCLE), n_keys)
    cycle: dict[int, int] = {}
    types = [t for t, _w in EVENT_TYPES]
    weights = [w for _t, w in EVENT_TYPES]
    rows = []
    for _ in range(n):
        r = residues[rng.randrange(n_keys)]
        k = cycle.get(r, 0)
        cycle[r] = k + 1
        rows.append((
            r + KEY_CYCLE * k,
            rng.randrange(users),
            rng.choices(types, weights)[0],
            EVENTS_T0_US + rng.randrange(EVENTS_SPAN_US),
            rng.randrange(100_000) / 1000,
        ))
    return rows


def dns_change(event) -> tuple[str, str, str, int, int]:
    """The feed row ``(action, fqdn, ip, ts_us, event_id)`` of one event,
    by the ``dns_changes`` definition (event type to action; fqdn and ip
    from the ids)."""
    eid, uid, etype, ts, _value = event
    action = {"error": DELETE, "signup": AXFR}.get(etype, ADD)
    fqdn = f"host{eid % 1000}.zone{uid % 7}.example" + ("." if eid % 3 == 0 else "")
    ip = f"10.{uid % 256}.0.{eid % 256}"
    return action, fqdn, ip, ts, eid


def _latest(changes, key) -> dict:
    """The change with the largest ``(ts, event_id)`` per key."""
    best: dict = {}
    for c in changes:
        k = key(c)
        cur = best.get(k)
        if cur is None or (c[3], c[4]) > (cur[3], cur[4]):
            best[k] = c
    return best


def expect_changelog_latest_wins(events) -> list[tuple]:
    """``changelog_latest_wins`` rows ``(action, fqdn, ip, ts_us, event_id)``:
    the latest change per ``(action, fqdn, ip)``."""
    best = _latest(map(dns_change, events), lambda c: c[:3])
    return list(best.values())


def expect_changelog_snapshot(events) -> list[tuple]:
    """``changelog_snapshot`` rows ``(fqdn, ip, action, ts_us)``: the latest
    change per ``(fqdn, ip)``, kept when it is not a delete."""
    best = _latest(map(dns_change, events), lambda c: c[1:3])
    return [(f, ip, a, ts) for a, f, ip, ts, _e in best.values() if a != DELETE]
