"""Seeded benchmark inputs.

Two input families, both written as plain Parquet into the benchmark's
data area and cached per seed:

* ``sensor``: Format-5 advertisements ``(mac, ts, payload)`` made by this
  module's own encoder, with the generator's ground truth kept beside
  them (``truth.parquet``) so the expected window aggregates never go
  through the engine's decoder.
* ``estate``: a seeded row subsample of the read-only sf0.1 estate. Fact
  tables are sampled by key (orders and lineitem share the order key so
  joins stay whole); dimension tables are copied unchanged. Documents keep
  the benchmark slice (``doc_id % 50 == 0``, the engine's ``isBenchDoc``)
  and every document sharing an 8-gram with it, so near-duplicate pairs
  survive the sampling: q58's incremental dedup finds none on a plain 10%
  sample.

Generation is a pure function of the seed: the same seed gives the same
bytes, a different seed gives different ones.
"""
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- sensor readings --------------------------------------------------------

SENSORS = 1000
OFF_LIST_SENSORS = 100          # ~10% of readings come from these MACs
READINGS = 200_000
DAYS = 1                        # 48 thirty-minute windows
MALFORMED_SHARE = 0.01
OUT_OF_ORDER_SHARE = 0.05
SAMPLE_ROWS = 2000              # rows cross-checked through Pipeline.decode
BASE_US = 1_709_251_200_000_000  # 2024-03-01T00:00:00Z


def _rng(seed, stream):
    return np.random.Generator(np.random.PCG64([int(seed) & 0xFFFFFFFF, stream]))


def _mac_strings(rng):
    octets = rng.integers(0, 256, size=(SENSORS, 6), dtype=np.uint16)
    octets[:, 0] = 0xC0 | (np.arange(SENSORS) & 0x3F)  # distinct prefix per sensor
    octets[:, 1] = np.arange(SENSORS) >> 6
    return np.array([":".join(f"{o:02X}" for o in row) for row in octets])


def encode_format5(temp_c, hum_c, press_pa, ax, ay, az, mov, extra):
    """Format-5 payloads (24 bytes, big-endian) from ground-truth units.

    temp_c is in 0.01 degC, hum_c in 0.01 %, press_pa in Pa, ax/ay/az in
    milli-g and mov is the movement byte. The raw fields are chosen so the
    decoded values land exactly on the decoder's rounding grid: raw
    temperature = 2 * temp_c (0.005 degC steps), raw humidity = 4 * hum_c
    (0.0025 % steps), raw pressure = press_pa - 50000. ``extra`` fills the
    bytes the decoder ignores (battery/tx, sequence, MAC)."""
    n = len(temp_c)
    out = np.empty((n, 24), dtype=np.uint8)
    out[:, 0] = 5

    def put16(col, values):
        v = np.asarray(values, dtype=np.int64) & 0xFFFF
        out[:, col] = v >> 8
        out[:, col + 1] = v & 0xFF

    put16(1, 2 * temp_c)
    put16(3, 4 * hum_c)
    put16(5, press_pa - 50000)
    put16(7, ax)
    put16(9, ay)
    put16(11, az)
    out[:, 13:15] = extra[:, 0:2]
    out[:, 15] = mov
    out[:, 16:24] = extra[:, 2:10]
    return out


def _binary_column(rows, lengths):
    """A variable-length binary Arrow array whose row i is the first
    lengths[i] bytes of rows[i] (rows is an (n, 25) uint8 matrix)."""
    offsets = np.zeros(len(lengths) + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    mask = np.arange(rows.shape[1])[None, :] < lengths[:, None]
    data = rows[mask]
    return pa.Array.from_buffers(
        pa.binary(), len(lengths), [None, pa.py_buffer(offsets), pa.py_buffer(data)])


def make_sensor(dest, seed):
    rng = _rng(seed, 1)
    macs = _mac_strings(rng)
    sensor = rng.integers(0, SENSORS, size=READINGS)
    ts = BASE_US + rng.integers(0, DAYS * 86_400_000_000, size=READINGS)
    order = np.argsort(ts, kind="stable")
    sensor, ts = sensor[order], ts[order]
    # arrival order: mostly time order, with a share of rows displaced
    late = np.flatnonzero(rng.random(READINGS) < OUT_OF_ORDER_SHARE)
    perm = np.arange(READINGS)
    perm[late] = rng.permutation(late)
    sensor, ts = sensor[perm], ts[perm]

    temp_c = rng.integers(-4000, 4001, size=READINGS)
    hum_c = rng.integers(0, 10001, size=READINGS)
    press_pa = rng.integers(90000, 110001, size=READINGS)
    ax, ay, az = (rng.integers(-2000, 2001, size=READINGS) for _ in range(3))
    mov = rng.integers(0, 256, size=READINGS)
    extra = rng.integers(0, 256, size=(READINGS, 10), dtype=np.uint8)
    payload = np.zeros((READINGS, 25), dtype=np.uint8)
    payload[:, :24] = encode_format5(temp_c, hum_c, press_pa, ax, ay, az, mov, extra)
    lengths = np.full(READINGS, 24, dtype=np.int32)

    # malformed: a third too short, a third too long, a third wrong format tag
    bad = np.flatnonzero(rng.random(READINGS) < MALFORMED_SHARE)
    kind = rng.integers(0, 3, size=len(bad))
    lengths[bad[kind == 0]] = 23
    lengths[bad[kind == 1]] = 25
    payload[bad[kind == 1], 24] = 0xEE
    payload[bad[kind == 2], 0] = 3
    valid = np.ones(READINGS, dtype=bool)
    valid[bad] = False

    # half the sensors report lower-case MACs; the whitelist upper-cases
    lower = rng.random(SENSORS) < 0.5
    sent = np.where(lower, np.char.lower(macs.astype(str)), macs)
    on_list = np.ones(SENSORS, dtype=bool)
    on_list[rng.choice(SENSORS, size=OFF_LIST_SENSORS, replace=False)] = False

    ts_type = pa.timestamp("us", tz="UTC")
    readings = pa.table({
        "mac": pa.array(sent[sensor]),
        "ts": pa.array(ts, type=ts_type),
        "payload": _binary_column(payload, lengths),
    })
    tags = pa.table({
        "mac": pa.array(macs[on_list]),
        "name": pa.array([f"sensor-{i:04d}" for i in np.flatnonzero(on_list)]),
    })
    truth = pa.table({
        "row": pa.array(np.arange(READINGS)),
        "mac": pa.array(macs[sensor]),
        "ts": pa.array(ts, type=ts_type),
        "valid": pa.array(valid),
        "temp_c": pa.array(temp_c), "hum_c": pa.array(hum_c),
        "press_pa": pa.array(press_pa),
        "ax": pa.array(ax), "ay": pa.array(ay), "az": pa.array(az),
        "mov": pa.array(mov),
    })
    sample = np.sort(rng.choice(READINGS, size=SAMPLE_ROWS, replace=False))
    os.makedirs(dest, exist_ok=True)
    pq.write_table(readings, os.path.join(dest, "readings.parquet"), row_group_size=1 << 16)
    pq.write_table(tags, os.path.join(dest, "tags.parquet"))
    pq.write_table(truth, os.path.join(dest, "truth.parquet"))
    pq.write_table(
        readings.take(sample).append_column("row", pa.array(sample)),
        os.path.join(dest, "sample.parquet"))


# --- estate subsample -------------------------------------------------------

ESTATE_FRACTION = 0.10
# table -> (key column, table whose keys are drawn); tables not listed are
# copied whole. lineitem draws from the orders keys, so an order is kept
# with all of its lines.
SAMPLED = {
    "documents": ("doc_id", "documents"),
    "embeddings": ("vec_id", "embeddings"),
    "events": ("event_id", "events"),
    "orders": ("o_orderkey", "orders"),
    "lineitem": ("l_orderkey", "orders"),
}
ESTATE_TABLES = ["region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events", "documents", "embeddings"]


def _hash(keys, seed):
    """Seeded splitmix64 of each key."""
    with np.errstate(over="ignore"):
        z = keys.astype(np.uint64) + np.uint64((int(seed) * 0x9E3779B97F4A7C15) & (2**64 - 1))
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _threshold(universe, seed, fraction):
    """The hash below which exactly `fraction` of the distinct keys fall, so
    every seed draws the same number of keys."""
    h = np.sort(_hash(np.unique(universe), seed))
    return h[int(len(h) * fraction)]


def _bench_and_contaminated(docs):
    """Documents of the benchmark slice and those sharing a token 8-gram
    with it."""
    ids = docs.column("doc_id").to_numpy()
    grams = []
    for text in docs.column("text").to_pylist():
        toks = (text or "").split(" ")
        grams.append({tuple(toks[i:i + 8]) for i in range(len(toks) - 7)})
    bench = ids % 50 == 0
    bench_grams = set().union(*(g for g, b in zip(grams, bench) if b))
    hit = np.array([not g.isdisjoint(bench_grams) for g in grams], dtype=bool)
    return bench | hit


def make_estate(dest, seed, source):
    os.makedirs(dest, exist_ok=True)
    tables = {n: pq.read_table(os.path.join(source, f"{n}.parquet")) for n in ESTATE_TABLES}
    for name, t in tables.items():
        if name in SAMPLED:
            key, drawn_from = SAMPLED[name]
            universe = tables[drawn_from].column(SAMPLED[drawn_from][0]).to_numpy()
            keep = _hash(t.column(key).to_numpy(), seed) < _threshold(
                universe, seed, ESTATE_FRACTION)
            if name == "documents":
                keep |= _bench_and_contaminated(t)
            t = t.filter(pa.array(keep))
        pq.write_table(t, os.path.join(dest, f"{name}.parquet"))


# --- per-seed cache ---------------------------------------------------------

KEEP_SEEDS = 4  # cached seeds per family; older ones are dropped
# cached inputs are keyed by this module's source too, so a changed
# generator never reuses inputs (or expected answers) of the old one
with open(__file__, "rb") as _f:
    GENERATOR = hashlib.sha256(_f.read()).hexdigest()[:12]


def cached(area, family, seed, make):
    """The directory holding `family` inputs for `seed`, generating it on a
    miss. Generation happens in a side directory that is renamed into
    place, so an interrupted run never leaves a half-written cache."""
    root = os.path.join(area, family)
    dest = os.path.join(root, f"seed{seed}-{GENERATOR}")
    if not os.path.exists(os.path.join(dest, "DONE")):
        tmp = dest + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(dest, ignore_errors=True)
        os.makedirs(tmp)
        make(tmp)
        open(os.path.join(tmp, "DONE"), "w").close()
        os.rename(tmp, dest)
    os.utime(os.path.join(dest, "DONE"))
    seeds = sorted(
        (d for d in os.listdir(root) if not d.endswith(".tmp")),
        key=lambda d: os.path.getmtime(os.path.join(root, d, "DONE"))
        if os.path.exists(os.path.join(root, d, "DONE")) else 0)
    for old in seeds[:-KEEP_SEEDS]:
        shutil.rmtree(os.path.join(root, old), ignore_errors=True)
    return dest
