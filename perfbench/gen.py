"""Load generator for the benchmark: seeded inputs, never the system's code.

Two modes:

  backfill  write N multiplexed envelope frames (all four stream types)
            to a replay file, plus a manifest of what was written;
  tables    write the TPC-H-shaped parquet tables the fixpoint queries
            and the standing artifacts read (lineitem, orders, part,
            supplier, customer, documents).

The backfill frames follow the reference's subscriptions: one
connection per (symbol, stream), with the suffixes `@ticker`, `@depth`,
`@aggTrade` and `@kline_<interval>` (binance-di.py:280-286). Binance's
spot WebSocket stream documentation (web-socket-streams.md in
binance/binance-spot-api-docs) gives their update speeds: `@ticker`
1000 ms, `@depth` 1000 ms, `@kline_<interval>` 2000 ms for every
interval but 1s; `@aggTrade` is real-time, one frame per aggregated
trade. So the cadence streams arrive at a fixed rate per symbol whatever
the market does, and only two figures are assumed: the aggregated
trades per symbol per second (`TRADES_PER_S`, a Poisson process) and the
price levels per side in one depth update (`BOOK_LEVELS`; a diff-depth
update carries the levels that changed, which the documentation does not
bound).

The manifest holds, per (stream, symbol), the frame count, the sum of a
numeric field and the sum of crc32 of a string field, so the benchmark
can prove every frame became durable exactly once. `--inject drop|dup`
writes one frame fewer or one extra while the manifest keeps the true
count; the self-tests use it to show the checks catch both.
"""
import argparse
import heapq
import json
import os
import random
import sys
import zlib

SYMBOLS = ["BTCUSDT", "ETHUSDT", "BNBUSDT", "SOLUSDT",
           "XRPUSDT", "ADAUSDT", "DOGEUSDT", "TRXUSDT"]
# published update speed per symbol, ms
CADENCE_MS = {"ticker": 1000, "order-book": 1000, "klines": 2000}
TRADES_PER_S = 1.0  # assumed
BOOK_LEVELS = 20  # assumed
# the stream type a planted fault hits: ticker is in every load set
# (klines, for one, is not loaded by default, so a fault there is unseen)
INJECT_STREAM = "ticker"
# (numeric field, string field) that the checksum covers, per stream
CHECK_FIELDS = {"ticker": ("event_time", "last_price"),
                "trades": ("event_time", "price"),
                "order-book": ("lastUpdateId", "bids"),
                "klines": ("event_time", "close_price")}


def _px(x):
    return f"{x:.2f}"


def payload(rng, stream, symbol, seq, event_ms):
    base = 100.0 + 50.0 * SYMBOLS.index(symbol)
    p = base + rng.random() * 10.0
    if stream == "ticker":
        return {"price_change": _px(rng.random() - 0.5),
                "price_change_percent": f"{rng.random():.3f}",
                "last_price": _px(p), "high_price": _px(p + 1.0),
                "low_price": _px(p - 1.0),
                "total_volume_asset": f"{rng.randint(1, 10**6)}.0",
                "total_volume_quote": f"{rng.randint(1, 10**8)}.0",
                "event_time": event_ms}
    if stream == "trades":
        return {"event_time": event_ms, "price": _px(p),
                "quantity": f"{rng.random() * 3:.5f}",
                "trade_time": event_ms - rng.randint(0, 5),
                "is_buyer_maker": rng.choice(["True", "False"])}
    if stream == "order-book":
        bids = [[_px(p - 0.01 * i), f"{rng.random() * 5:.4f}"]
                for i in range(1, BOOK_LEVELS + 1)]
        asks = [[_px(p + 0.01 * i), f"{rng.random() * 5:.4f}"]
                for i in range(1, BOOK_LEVELS + 1)]
        return {"lastUpdateId": 10**9 + seq,
                "bids": json.dumps(bids, separators=(",", ":")),
                "asks": json.dumps(asks, separators=(",", ":"))}
    start = event_ms - event_ms % 60000
    return {"event_time": event_ms, "kline_start_time": start,
            "kline_close_time": start + 59999, "symbol": symbol,
            "interval": "1m", "open_price": _px(p),
            "close_price": _px(p + rng.random() - 0.5),
            "high_price": _px(p + 1.0), "low_price": _px(p - 1.0),
            "base_asset_volume": f"{rng.random() * 100:.3f}",
            "quote_asset_volume": f"{rng.random() * 10000:.2f}",
            "number_of_trades": rng.randint(1, 500),
            "is_kline_closed": rng.choice(["true", "false"])}


TYPE_CHAR = {"ticker": "t", "trades": "r", "order-book": "o", "klines": "k"}


class Manifest:
    def __init__(self):
        self.keys = {}
        self.frames = 0
        self.types = []

    def add(self, stream, symbol, data):
        num_f, str_f = CHECK_FIELDS[stream]
        k = self.keys.setdefault(f"{stream}|{symbol}", [0, 0, 0])
        k[0] += 1
        k[1] += int(data[num_f])
        k[2] += zlib.crc32(data[str_f].encode("utf-8"))
        self.frames += 1
        self.types.append(TYPE_CHAR[stream])

    def to_json(self):
        return {"frames": self.frames, "types": "".join(self.types),
                "keys": {k: {"rows": v[0], "num_sum": v[1], "crc_sum": v[2]}
                         for k, v in sorted(self.keys.items())}}


def schedule(rng, t0):
    """(event_ms, stream, symbol) of every frame, in time order, without
    end: each cadence stream at its update speed from a random phase,
    aggregated trades at exponential gaps."""
    trade_gap = lambda: 1 + int(rng.expovariate(TRADES_PER_S) * 1000)
    heap = []
    for sym in SYMBOLS:
        for stream, every in CADENCE_MS.items():
            heap.append((t0 + rng.randrange(every), stream, sym))
        heap.append((t0 + trade_gap(), "trades", sym))
    heapq.heapify(heap)
    while True:
        t, stream, sym = heapq.heappop(heap)
        yield t, stream, sym
        gap = CADENCE_MS[stream] if stream in CADENCE_MS else trade_gap()
        heapq.heappush(heap, (t + gap, stream, sym))


def backfill(args):
    rng = random.Random(args.seed)
    man = Manifest()
    t0 = 1_700_000_000_000 + rng.randint(0, 10**9)
    target = None  # the frame a planted fault hits
    with open(args.out, "w") as f:
        for seq, (event_ms, stream, symbol) in zip(range(args.frames), schedule(rng, t0)):
            data = payload(rng, stream, symbol, seq, event_ms)
            man.add(stream, symbol, data)
            line = json.dumps({"stream": stream, "symbol": symbol, "data": data},
                              separators=(",", ":"))
            if target is None and seq >= args.frames // 2 and stream == INJECT_STREAM:
                target = seq
                if args.inject == "drop":
                    continue
                if args.inject == "dup":
                    f.write(line + "\n")
            f.write(line + "\n")
    with open(args.manifest, "w") as f:
        json.dump(man.to_json(), f)


def tables(args):
    """TPC-H-shaped tables at scale factor `sf`, with the row ratios of
    the engine's test data: 200k·sf parts, 10k·sf suppliers, 150k·sf
    customers, 1.5M·sf orders and 6M·sf line items (Poisson(4) lines
    per order, uniform part and supplier keys), so the co-purchase and
    supplier→customer graphs keep the same degree profile at any sf."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(args.seed)
    sf = args.sf
    n_part, n_supp = int(200_000 * sf), int(10_000 * sf)
    n_cust, n_ord = int(150_000 * sf), int(1_500_000 * sf)
    n_line, n_doc = int(6_000_000 * sf), int(50_000 * sf)
    os.makedirs(args.out, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(args.out, f"{name}.parquet"))

    day = np.datetime64("1992-01-01", "us")
    days = lambda n: day + rng.integers(0, 3650, n).astype("timedelta64[D]")
    pick = lambda words, n: np.array(words, dtype=object)[rng.integers(0, len(words), n)]

    write("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": pick(["large ring", "hot bolt", "blue nut", "cold gear"], n_part),
        "p_brand": np.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], dtype=object),
        "p_type": pick(["LARGE", "ECONOMY", "SMALL", "MEDIUM", "PROMO"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + rng.random(n_part) * 1100, 2)})
    write("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": np.array([f"Supplier#{i:09d}" for i in range(n_supp)], dtype=object),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.random(n_supp) * 10000 - 1000, 2)})
    write("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": np.array([f"Customer#{i:09d}" for i in range(n_cust)], dtype=object),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.random(n_cust) * 10000 - 1000, 2),
        "c_mktsegment": pick(["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"], n_cust)})
    write("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": pick(["O", "F", "P"], n_ord),
        "o_totalprice": np.round(rng.random(n_ord) * 400000, 2),
        "o_orderdate": days(n_ord),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    write("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.random(n_line) * 100000, 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["O", "F"], n_line),
        "l_shipdate": days(n_line)})
    # documents: a 31-word vocabulary, 10-100 words each; one in fifty
    # is a near-copy (one word changed) of an earlier document, so the
    # Jaccard >= 0.8 pair graph behind the dedup components is non-empty
    vocab = ("a the data spark stream batch table row column value key "
             "scan join sort hash group agg filter window merge query "
             "fast slow big small order line part customer vector").split()
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.02:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = vocab[int(rng.integers(0, len(vocab)))]
        else:
            words = list(pick(vocab, int(rng.integers(10, 101))))
        texts.append(" ".join(words))
    write("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": np.array(texts, dtype=object),
        "lang": pick(["en", "zh", "de", "es", "fr"], n_doc),
        "source": np.array([f"src{i % 20}" for i in range(n_doc)], dtype=object),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["backfill", "tables"])
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--manifest")
    ap.add_argument("--frames", type=int, default=0)
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--inject", choices=["none", "drop", "dup"], default="none")
    args = ap.parse_args(argv)
    {"backfill": backfill, "tables": tables}[args.mode](args)


if __name__ == "__main__":
    sys.exit(main())
