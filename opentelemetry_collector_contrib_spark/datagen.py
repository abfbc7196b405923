"""Deterministic synthetic input generator (seed fixed).

Generates, per scale factor, the pipeline input tables that the reference's
own test fixtures model (FIXTURES.md; receiver/stanzareceiver/testdata/
simple.log:1-3 and e2e_test.go:93-99 for the line shape):

- ``tokens.parquet``  — (doc_id string, tokens array<int32>, n_tok int32,
  source string): pre-tokenized log lines.  ~5% non-matching lines
  (parse-failure path), Zipf-skewed ``source`` with one deliberately hot
  value (>=60% of rows) to exercise salting/AQE skew handling.
- ``pods.parquet``    — enrichment dimension mirroring kube.Pod
  (processor/k8sprocessor/kube/kube.go:62-70) with deployment-regex-able
  pod names (kube/client.go:55) and ~2% ignored pods (client.go:304-329).
- ``carbon.parquet``  — raw carbon plaintext metric lines
  (receiver/carbonreceiver/protocol/plaintext_parser.go:51-90).
- ``statsd.parquet``  — raw statsd lines
  (receiver/statsdreceiver/protocol/statsd_parser.go:131-224).

Everything is derived from numpy PCG64 with a fixed seed, so any sf is
reproducible bit-for-bit.  No external data.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 20260816
GEN_VERSION = "v3"   # bump when adding tables so stale dirs regenerate
def _default_data_root() -> str:
    """Synthetic-data dir: $SPARK_GRAFT_DATA_ROOT, else <repo>/data.
    When the package is imported from a spark-submit --py-files zip
    the parent "directory" is the archive itself — fall back to the
    driver's cwd instead of trying to mkdir inside the zip."""
    env = os.environ.get("SPARK_GRAFT_DATA_ROOT")
    if env:
        return env
    parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if os.path.isdir(parent):
        return os.path.join(parent, "data")
    return os.path.join(os.getcwd(), "data")


DATA_ROOT = _default_data_root()

# rows per sf=1.0 (so sf0.01 -> 60k, matching the driver's lineitem scale)
TOKENS_ROWS_SF1 = 6_000_000
PODS_ROWS = 400          # small dimension — broadcast side
CARBON_ROWS_SF1 = 600_000
STATSD_ROWS_SF1 = 600_000

# source categories: hot-source deliberately hot (~62%) per FIXTURES.md
SOURCES = ["hot-source", "app-a", "app-b", "k8s", "syslog"]
SOURCE_P = [0.62, 0.16, 0.10, 0.08, 0.04]

SEVERITIES = ["TRACE", "DEBUG", "INFO", "NOTICE", "WARNING", "ERROR",
              "CRITICAL", "ALERT", "EMERGENCY", "CATASTROPHE", "WEIRD"]
SEV_P = [0.04, 0.18, 0.40, 0.05, 0.15, 0.10, 0.03, 0.01, 0.01, 0.005, 0.025]

MESSAGES = [
    "Something routine happened",
    "Something bad happened!",
    "Some details about the request",
    "connection established to upstream",
    "request completed successfully",
    "cache miss for key shard",
    "retrying after transient failure",
    "user login accepted",
    "payload checksum verified",
    "slow query detected in planner",
]

NAMESPACES = ["default", "kube-system", "prod", "staging"]
NODES = [f"node-{i:02d}" for i in range(8)]
DEPLOYMENTS = ["frontend", "api-server", "worker", "ingest", "billing"]

METRIC_NAMES = ["cpu.usage", "mem.rss", "disk.io.read", "net.rx", "requests.count"]


def _sf_dir(sf: float) -> str:
    return os.path.join(DATA_ROOT, f"sf{sf:g}")


def _pod_ip(i: int) -> str:
    return f"10.{(i >> 8) & 255}.{i & 255}.{(i * 7) % 250 + 1}"


def gen_pods(rng: np.random.Generator) -> pa.Table:
    n = PODS_ROWS
    idx = np.arange(n)
    dep = rng.choice(len(DEPLOYMENTS), n)
    rs_hash = rng.integers(0, 16**5, n)
    pod_hash = rng.integers(0, 16**5, n)
    pod_ip = [_pod_ip(i) for i in idx]
    pod_name = [f"{DEPLOYMENTS[d]}-{r:05x}-{p:05x}" for d, r, p in zip(dep, rs_hash, pod_hash)]
    namespace = [NAMESPACES[i] for i in rng.choice(len(NAMESPACES), n)]
    node_name = [NODES[i] for i in rng.choice(len(NODES), n)]
    start_epoch = 1598313600 + rng.integers(0, 86400 * 30, n)  # 2020-08-25 + 0..30d
    start_time = [f"2020-{1 + (e % 12):02d}-{1 + (e % 27):02d}T{e % 24:02d}:00:00Z" for e in start_epoch]
    git_sha = [f"GIT_SHA={s:08x} BUILD=ci" for s in rng.integers(0, 16**8, n)]
    ignore = rng.random(n) < 0.02
    return pa.table({
        "pod_ip": pa.array(pod_ip, pa.string()),
        "pod_name": pa.array(pod_name, pa.string()),
        "namespace": pa.array(namespace, pa.string()),
        "node_name": pa.array(node_name, pa.string()),
        "start_time": pa.array(start_time, pa.string()),
        "labels_raw": pa.array(git_sha, pa.string()),
        "ignore": pa.array(ignore.tolist(), pa.bool_()),
    })


def gen_tokens(rng: np.random.Generator, n: int, id_offset: int = 0) -> pa.Table:
    src_idx = rng.choice(len(SOURCES), n, p=SOURCE_P)
    sev_idx = rng.choice(len(SEVERITIES), n, p=SEV_P)
    msg_idx = rng.choice(len(MESSAGES), n)
    # timestamps in a 3-day window starting 2020-08-25 (simple.log date)
    epoch = 1598313600 + rng.integers(0, 86400 * 3, n)
    # ~90% of rows carry a pod_ip k=v attribute; of those ~10% miss the dim
    has_ip = rng.random(n) < 0.9
    ip_pod = rng.integers(0, PODS_ROWS, n)            # matching ips
    ip_miss = rng.random(n) < 0.10                    # lookup-miss path
    seqno = rng.integers(0, 100000, n)
    nonmatch = rng.random(n) < 0.05                   # parse-failure path

    lines = []
    for i in range(n):
        e = int(epoch[i])
        ts = f"2020-08-{25 + e // 86400 % 3:02d} {e // 3600 % 24:02d}:{e // 60 % 60:02d}:{e % 60:02d}"
        if nonmatch[i]:
            line = f"--- continuation line {int(seqno[i])} without timestamp"
        else:
            line = f"{ts} {SEVERITIES[sev_idx[i]]} {MESSAGES[msg_idx[i]]} seq={int(seqno[i])}"
            if has_ip[i]:
                ip = _pod_ip(int(ip_pod[i])) if not ip_miss[i] else f"172.16.{int(ip_pod[i]) % 250}.9"
                line += f" pod_ip={ip}"
        lines.append(line)
    # vectorized token-array construction: one flat byte buffer + list
    # offsets (per-row list building is ~100x slower at sf >= 1)
    lens = np.fromiter((len(l) for l in lines), dtype=np.int64, count=n)
    flat = np.frombuffer("".join(lines).encode("ascii"), dtype=np.uint8)
    # cumsum in int64 FIRST: an int32 out-array silently wraps once the
    # corpus exceeds 2^31 bytes (~sf4), corrupting the ListArray
    offsets64 = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets64[1:])
    if offsets64[-1] > np.iinfo(np.int32).max:
        raise ValueError(
            f"corpus is {offsets64[-1]} bytes — exceeds int32 list offsets; "
            "generate in chunks or switch to pa.large_list")
    tokens_arr = pa.ListArray.from_arrays(
        pa.array(offsets64.astype(np.int32), pa.int32()),
        pa.array(flat.astype(np.int32), pa.int32()))
    return pa.table({
        "doc_id": pa.array([f"doc-{i:08d}"
                            for i in range(id_offset, id_offset + n)],
                           pa.string()),
        "tokens": tokens_arr,
        "n_tok": pa.array(lens.astype(np.int32), pa.int32()),
        "source": pa.array([SOURCES[s] for s in src_idx], pa.string()),
    })


def gen_carbon(rng: np.random.Generator, n: int) -> pa.Table:
    """Carbon plaintext lines: <name>[;k=v...] <value> <ts>."""
    name_idx = rng.choice(len(METRIC_NAMES), n)
    host_idx = rng.integers(0, 8, n)
    val = np.round(rng.random(n) * 100, 3)
    ts = 1598313600 + rng.integers(0, 86400, n)
    tagged = rng.random(n) < 0.5
    lines = []
    for i in range(n):
        name = METRIC_NAMES[name_idx[i]]
        if tagged[i]:
            name += f";host=h{int(host_idx[i])};dc=us-east"
        lines.append(f"{name} {val[i]} {int(ts[i])}")
    return pa.table({"line": pa.array(lines, pa.string())})


def gen_statsd(rng: np.random.Generator, n: int) -> pa.Table:
    """statsd lines: name:value|type[|@rate][|#k:v,...]."""
    name_idx = rng.choice(len(METRIC_NAMES), n)
    val = rng.integers(1, 100, n)
    kind = rng.choice(3, n, p=[0.5, 0.3, 0.2])    # counter / gauge / timer
    sampled = rng.random(n) < 0.3
    tagged = rng.random(n) < 0.4
    gauge_delta = rng.random(n) < 0.2
    timer_ms = np.round(rng.random(n) * 500, 3)
    lines = []
    for i in range(n):
        name = METRIC_NAMES[name_idx[i]].replace(".", "_")
        if kind[i] == 0:
            line = f"{name}:{int(val[i])}|c"
            if sampled[i]:
                line += "|@0.5"
        elif kind[i] == 1:
            sign = "+" if gauge_delta[i] else ""
            line = f"{name}:{sign}{int(val[i])}|g"
        else:
            line = f"{name}:{timer_ms[i]}|ms"
        if tagged[i]:
            line += f"|#env:prod,host:h{int(val[i]) % 8}"
        lines.append(line)
    return pa.table({"line": pa.array(lines, pa.string())})


def gen_hec(rng: np.random.Generator, n: int) -> pa.Table:
    """Splunk HEC event JSON lines (splunk_to_logdata.go:33-90 shape)."""
    import json
    host_idx = rng.integers(0, 8, n)
    st_idx = rng.integers(0, 3, n)
    t = 1598313600 + rng.random(n) * 86400
    msg_idx = rng.integers(0, len(MESSAGES), n)
    k1 = rng.integers(0, 100, n)
    lines = []
    for i in range(n):
        ev = {
            "time": round(float(t[i]), 3),
            "host": f"h{int(host_idx[i])}",
            "source": "hec",
            "sourcetype": ["access", "syslog", "json"][int(st_idx[i])],
            "index": "main",
            "event": MESSAGES[int(msg_idx[i])],
            "fields": {"k1": str(int(k1[i])), "env": "prod"},
        }
        lines.append(json.dumps(ev, separators=(",", ":")))
    return pa.table({"body": pa.array(lines, pa.string())})


def gen_media(rng: np.random.Generator, n: int) -> pa.Table:
    """Opaque binary media payloads + typed metadata (deterministic)."""
    import hashlib
    kinds = ["image", "audio", "video"]
    ids, kind_col, payloads, mimes, nbytes = [], [], [], [], []
    for i in range(n):
        payload = hashlib.sha256(f"media-{i}".encode()).digest() * (i % 7 + 1)
        k = kinds[i % 3]
        ids.append(f"m-{i:05d}")
        kind_col.append(k)
        payloads.append(payload)
        mimes.append(f"{k}/fake")
        nbytes.append(len(payload))
    return pa.table({
        "media_id": pa.array(ids, pa.string()),
        "kind": pa.array(kind_col, pa.string()),
        "payload": pa.array(payloads, pa.binary()),
        "mime": pa.array(mimes, pa.string()),
        "n_bytes": pa.array(nbytes, pa.int32()),
    })


# per-chunk row cap for the tokens table: keeps one chunk's corpus
# (~80 B/row) far under the int32 list-offset ceiling gen_tokens guards
# against, and bounds generator memory at O(chunk) for any sf
TOKENS_CHUNK = 6_000_000


def _write_tokens(path: str, n: int) -> None:
    """tokens.parquet at any scale.

    n <= TOKENS_CHUNK (sf <= 1): the original single-shot stream —
    byte-identical to what every earlier round generated.  Larger:
    chunked through one ParquetWriter, each chunk drawing from its own
    PCG stream keyed (SEED, chunk_idx) so the output is deterministic
    per sf without materializing >2^31 corpus bytes in one ListArray;
    doc ids carry the global row offset so they stay corpus-unique.
    """
    if n <= TOKENS_CHUNK:
        rng = np.random.default_rng(np.random.PCG64(SEED))
        # small row groups so Spark can split the single file across tasks
        pq.write_table(gen_tokens(rng, n), path, row_group_size=20_000)
        return
    writer = None
    try:
        for ci, lo in enumerate(range(0, n, TOKENS_CHUNK)):
            m = min(TOKENS_CHUNK, n - lo)
            rng = np.random.default_rng(np.random.PCG64([SEED, ci]))
            t = gen_tokens(rng, m, id_offset=lo)
            if writer is None:
                writer = pq.ParquetWriter(path, t.schema)
            writer.write_table(t, row_group_size=20_000)
    finally:
        if writer is not None:
            writer.close()


def _marker_valid(d: str) -> bool:
    marker = os.path.join(d, "_GENERATED")
    if not os.path.exists(marker):
        return False
    with open(marker) as f:
        return f.read().startswith(GEN_VERSION)


def ensure_sf(sf: float, force: bool = False) -> str:
    """Generate (if absent) all synthetic tables for a scale factor.

    Returns the directory.  Deterministic: same sf -> same bytes.

    Concurrency-safe: generation lands in a temp dir that is RENAMED
    into place, so a concurrent reader (a second gate process, a bench
    run) only ever sees a complete directory — never a parquet file
    mid-write.  Two concurrent generators both build; the first rename
    wins, the loser discards its copy.  (The previous in-place write
    left a window where the marker was valid-absent but tokens.parquet
    existed truncated — exactly the kind of cross-process corruption
    behind round 4's unreproducible hash-only red rows.)
    """
    import shutil
    import tempfile

    d = _sf_dir(sf)
    if _marker_valid(d) and not force:
        return d
    os.makedirs(DATA_ROOT, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"sf{sf:g}.gen-", dir=DATA_ROOT)
    n = max(int(TOKENS_ROWS_SF1 * sf), 1000)
    _write_tokens(os.path.join(tmp, "tokens.parquet"), n)
    # pods dim is sf-independent but re-derived from a fixed-seed stream
    rng_p = np.random.default_rng(np.random.PCG64(SEED + 1))
    pq.write_table(gen_pods(rng_p), os.path.join(tmp, "pods.parquet"))
    rng_c = np.random.default_rng(np.random.PCG64(SEED + 2))
    pq.write_table(gen_carbon(rng_c, max(int(CARBON_ROWS_SF1 * sf), 1000)),
                   os.path.join(tmp, "carbon.parquet"))
    rng_s = np.random.default_rng(np.random.PCG64(SEED + 3))
    pq.write_table(gen_statsd(rng_s, max(int(STATSD_ROWS_SF1 * sf), 1000)),
                   os.path.join(tmp, "statsd.parquet"))
    rng_h = np.random.default_rng(np.random.PCG64(SEED + 4))
    pq.write_table(gen_hec(rng_h, max(int(CARBON_ROWS_SF1 * sf), 1000)),
                   os.path.join(tmp, "hec.parquet"))
    rng_m = np.random.default_rng(np.random.PCG64(SEED + 5))
    pq.write_table(gen_media(rng_m, 256), os.path.join(tmp, "media.parquet"))
    with open(os.path.join(tmp, "_GENERATED"), "w") as f:
        f.write(f"{GEN_VERSION} seed={SEED} n={n}\n")
    stale = None
    if os.path.isdir(d):
        if _marker_valid(d) and not force:
            # a concurrent generator published while we built — use its
            # (bit-identical) copy and drop ours
            shutil.rmtree(tmp, ignore_errors=True)
            return d
        # stale version (or force): swap out-of-place, never truncate
        # files a concurrent reader may hold open
        stale = tempfile.mkdtemp(prefix=f"sf{sf:g}.stale-", dir=DATA_ROOT)
        try:
            os.rename(d, os.path.join(stale, "old"))
        except OSError:
            # a concurrent generator swapped it out first: publish
            # below, or lose that race to the winner's copy
            pass
    try:
        os.rename(tmp, d)
    except OSError:
        # lost the publish race; the winner's dir is complete
        shutil.rmtree(tmp, ignore_errors=True)
        if not _marker_valid(d):
            raise
    finally:
        if stale is not None:
            shutil.rmtree(stale, ignore_errors=True)
    return d


def sf_from_testdata_dir(sf_dir: str) -> float:
    """Map the driver's /root/testdata/sfX dir to our scale factor."""
    base = os.path.basename(os.path.normpath(sf_dir))
    if base.startswith("sf"):
        try:
            return float(base[2:])
        except ValueError:
            pass
    return 0.01


def tokens_dir_for(sf_dir: str) -> str:
    """Directory of our synthetic tables matching a driver sf dir."""
    return ensure_sf(sf_from_testdata_dir(sf_dir))


if __name__ == "__main__":
    import sys
    for sf in [float(a) for a in sys.argv[1:]] or [0.001, 0.01]:
        print(ensure_sf(sf))
