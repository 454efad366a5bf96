"""Seeded stream inputs for the graft benchmark, and the answers computed
from them without Spark.

* ``stream_inputs``: the music entities (customers, addresses, artists,
  venues, events) and a replayable fact stream of listens and tickets with
  address upserts interleaved, a pure function of the seed. The stream is
  generated in fixed blocks, so a shorter replay is an exact prefix of a
  longer one.
* ``stream_expected`` computes the streaming twins' final answers for a
  replayed prefix: per-customer counts, ordered top-3, ledger verdicts and
  per-(artist, state) counts.

The catalog workload reads no generated input: it runs on a copy of the
engine's test tables in ``perfbench/data``.
"""
import functools
import os

import numpy as np
import pandas as pd

N_CUST, N_ARTIST, N_VENUE, N_EVENT = 4000, 400, 40, 400
STATES = ["IA", "IL", "MI", "MN", "ND", "SD", "WI"]
GENRES = ["Blues", "Folk", "Funk", "Jazz", "Metal", "Pop", "Rock"]
BLOCK = 10_000          # facts per generation block (prefix-stable unit)
TICKET_SHARE = 0.1      # share of facts that are ticket requests
UPSERT_SHARE = 0.25     # share of customers who move before their first listen
ZIPF_S = 1.1            # artist and event popularity skew
ADDRESS_COLS = ["id", "customerid", "formatcode", "addrtype", "line1", "line2",
                "citynm", "state", "zip5", "zip4", "countrycd", "latitude", "longitude"]


def _zipf_p(n, s):
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def _addresses(ids, custs, state_idx, rng):
    n = len(ids)
    return pd.DataFrame({
        "id": ids, "customerid": custs, "formatcode": "F1", "addrtype": "HOME",
        "line1": [f"{k} Main St" for k in rng.integers(1, 9999, n)], "line2": "",
        "citynm": "City", "state": np.array(STATES)[state_idx],
        "zip5": rng.integers(10000, 99999, n).astype(str),
        "zip4": rng.integers(1000, 9999, n).astype(str), "countrycd": "USA",
        "latitude": 0.0, "longitude": 0.0})[ADDRESS_COLS]


def _entities(seed):
    rng = np.random.default_rng([seed, 2])
    c = np.arange(N_CUST)
    cid = np.char.add("c", np.char.zfill(c.astype(str), 5))
    customers = pd.DataFrame({
        "id": cid, "custtype": "P", "gender": "U", "fname": np.char.add("F", c.astype(str)),
        "mname": "", "lname": np.char.add("L", c.astype(str)),
        "fullname": [f"F{i} L{i}" for i in c], "suffix": "", "title": "",
        "birthdt": [f"19{y}-01-01" for y in rng.integers(50, 100, N_CUST)],
        "joindt": "2020-01-01"})
    home = rng.integers(0, len(STATES), N_CUST)
    v = np.arange(N_VENUE)
    vid = np.char.zfill(v.astype(str), 3)
    addresses = pd.concat([
        _addresses(np.char.add("ad", np.char.zfill(c.astype(str), 5)), cid, home, rng),
        _addresses(np.char.add("va", vid), np.full(N_VENUE, ""),
                   rng.integers(0, len(STATES), N_VENUE), rng)], ignore_index=True)
    a = np.arange(N_ARTIST)
    artists = pd.DataFrame({
        "id": np.char.add("a", np.char.zfill(a.astype(str), 4)),
        "name": np.char.add("Artist ", a.astype(str)),
        "genre": np.array(GENRES)[rng.integers(0, len(GENRES), N_ARTIST)]})
    venues = pd.DataFrame({"id": np.char.add("v", vid), "addressid": np.char.add("va", vid),
                           "name": np.char.add("Venue ", v.astype(str)), "maxcapacity": 5000})
    e = np.arange(N_EVENT)
    events = pd.DataFrame({
        "id": np.char.add("e", np.char.zfill(e.astype(str), 4)),
        "artistid": np.char.add("a", np.char.zfill(rng.integers(0, N_ARTIST, N_EVENT).astype(str), 4)),
        "venueid": np.char.add("v", np.char.zfill(rng.integers(0, N_VENUE, N_EVENT).astype(str), 3)),
        "capacity": rng.integers(5, 41, N_EVENT), "eventdate": "2026-06-01"})
    movers = rng.random(N_CUST) < UPSERT_SHARE
    return ({"customers": customers, "addresses": addresses, "artists": artists,
             "venues": venues, "events": events}, home, movers)


def _block(seed, b):
    """Facts [b*BLOCK, (b+1)*BLOCK): kind (0 listen, 1 ticket), customer,
    artist or event index."""
    rng = np.random.default_rng([seed, 3, b])
    kind = (rng.random(BLOCK) < TICKET_SHARE).astype(np.int8)
    cust = rng.integers(0, N_CUST, BLOCK)
    artist = rng.choice(N_ARTIST, BLOCK, p=_zipf_p(N_ARTIST, ZIPF_S))
    event = rng.choice(N_EVENT, BLOCK, p=_zipf_p(N_EVENT, ZIPF_S))
    return kind, cust, np.where(kind == 0, artist, event)


@functools.lru_cache(maxsize=2)
def _replay(seed, n_facts):
    """Entities plus the first ``n_facts`` stream items.

    Every item carries ``seq`` (its 1-based position among all items) and
    ``fact_no`` (how many facts precede it), so a replayer cuts triggers of
    T facts as ``fact_no // T`` whatever T is. A mover's address upsert is
    placed just before that customer's first listen, so each listen joins
    the customer's final address at any trigger size.
    """
    entities, home, movers = _entities(seed)
    blocks = [_block(seed, b) for b in range((n_facts + BLOCK - 1) // BLOCK)]
    kind, cust, target = (np.concatenate([blk[i] for blk in blocks])[:n_facts] for i in range(3))
    listen_at = np.flatnonzero(kind == 0)
    firsts, pos = np.unique(cust[listen_at], return_index=True)
    keep = movers[firsts]
    up_fact = listen_at[pos[keep]]              # fact index each upsert precedes
    order = np.argsort(up_fact)
    up_fact, up_cust = up_fact[order], firsts[keep][order]
    before = np.zeros(n_facts, dtype=np.int64)
    before[up_fact] = 1
    fact_seq = np.arange(1, n_facts + 1) + np.cumsum(before)
    rng = np.random.default_rng([seed, 4])
    new_state = (home[up_cust] + rng.integers(1, len(STATES), len(up_cust))) % len(STATES)
    cid = lambda ix: np.char.add("c", np.char.zfill(ix.astype(str), 5))
    upserts = _addresses(np.char.add("ad", np.char.zfill(up_cust.astype(str), 5)),
                         cid(up_cust), new_state, rng)
    upserts["seq"] = fact_seq[up_fact] - 1
    upserts["fact_no"] = up_fact
    facts = {}
    for k, (prefix, col, width) in enumerate([("l", "artistid", 4), ("t", "eventid", 4)]):
        at = np.flatnonzero(kind == k)
        seq = fact_seq[at]
        facts[k] = pd.DataFrame({
            "seq": seq, "fact_no": at,
            "id": np.char.add(prefix, np.char.zfill(seq.astype(str), 9)),
            "customerid": cid(cust[at]),
            col: np.char.add("a" if k == 0 else "e",
                             np.char.zfill(target[at].astype(str), width))})
    facts[0]["streamtime"] = "2026-01-01T00:00:00"
    facts[1]["price"] = 50.0
    return entities, facts[0], facts[1], upserts


def stream_inputs(seed, n_facts, out_dir):
    """Write entity snapshots and the first ``n_facts`` stream items as
    tab-separated files without headers, columns in record-field order."""
    os.makedirs(out_dir, exist_ok=True)
    entities, listens, tickets, upserts = _replay(seed, n_facts)
    tables = dict(entities, listens=listens, tickets=tickets, address_upserts=upserts)
    for name, df in tables.items():
        df.to_csv(os.path.join(out_dir, f"{name}.tsv"), sep="\t", header=False, index=False)


def stream_expected(seed, n_facts, consumed):
    """Final twin answers after the first ``consumed`` of ``n_facts``
    generated facts, from the generated rows alone (no Spark): the reference
    semantics applied to the whole prefix at once."""
    entities, listens, tickets, upserts = _replay(seed, n_facts)
    listens = listens[listens["fact_no"] < consumed]
    tickets = tickets[tickets["fact_no"] < consumed]
    upserts = upserts[upserts["fact_no"] < consumed]
    addr = entities["addresses"]
    state = dict(zip(addr["customerid"], addr["state"]))
    state.pop("", None)
    state.update(zip(upserts["customerid"], upserts["state"]))
    counts = listens.groupby("customerid").size()
    pairs = (listens.groupby(["customerid", "artistid"])
             .agg(n=("seq", "size"), first=("seq", "min")).reset_index()
             .sort_values(["customerid", "n", "first"], ascending=[True, False, True]))
    top3 = {}
    for c, a, n in pairs.groupby("customerid").head(3)[["customerid", "artistid", "n"]] \
            .itertuples(index=False):
        top3.setdefault(c, []).append((a, int(n)))
    names = dict(zip(entities["artists"]["id"], entities["artists"]["name"]))
    by_state = listens.assign(state=listens["customerid"].map(state)) \
        .groupby(["artistid", "state"]).size()
    cap = tickets["eventid"].map(dict(zip(entities["events"]["id"], entities["events"]["capacity"])))
    remaining = cap - (tickets.groupby("eventid").cumcount() + 1)
    status = np.where(remaining >= 0, "CONFIRMED", "REJECTED")
    route = np.where(remaining < 0, "rejected",
                     np.where(remaining / cap * 100.0 <= 20.0, "confirmed-low-stock", "confirmed"))
    ledger = {t: (c, e, s, float(r), ro) for t, c, e, s, r, ro in zip(
        tickets["id"], tickets["customerid"], tickets["eventid"], status, remaining, route)}
    return {
        "counts": {c: int(n) for c, n in counts.items()},
        "top3": top3,
        "ledger": ledger,
        "artist_state": {(a, s): (names[a], int(n)) for (a, s), n in by_state.items()},
        "address_state": state,
    }
