"""Per-layer metrics of a traced run, by the names BENCHMARK.json lists.

A layer that does not run in a workload reports 0 (for example the relay
corners on the analytics workload). perfbench/README.md says which
end-to-end metric each one should move, on which workload.
"""
import stats

CODECS = ["kafka.wire.encode", "kafka.wire.decode", "redis.resp.encode",
          "redis.resp.parse", "iggy.wire.encode", "iggy.wire.decode",
          "ss.format.encode", "ss.format.decode"]
CLIENTS = ["kafka.client.produce", "kafka.client.fetch", "redis.client.xadd",
           "redis.client.xread", "iggy.client.send", "iggy.client.poll"]
BACKENDS = ["kafka", "redis", "iggy", "ss"]
CORNERS = [f"{s}-{d}" for s in BACKENDS for d in ("kafka", "redis")]
QUERIES = ["q1_agg", "q3_join_agg", "q16_cube", "d3_minhash_lsh",
           "c2_kmeans_lloyd", "a4_fingerprint", "p8_repetition",
           "p21_dedup_survivorship"]
# cells whose wall time Spark's layer metrics are taken over
SPARK_KINDS = ("produce", "consume", "relay", "query", "stream", "drain")


def _rate(cells, kind, name=None):
    cs = [c for c in cells if c["kind"] == kind and (name is None or c["name"] == name)]
    return stats.rate(sum(c["items"] for c in cs),
                      sum(stats.cell_seconds(c) for c in cs))


def per_layer(raw, cores):
    cells = raw["cells"]
    m = {}
    payload_mb = raw["values"].get("layer_payload_bytes", 0.0) / 1e6
    for name in CODECS:
        rounds = [c["items"] * payload_mb / stats.cell_seconds(c)
                  for c in cells if c["kind"] == "codec" and c["name"] == name]
        m[f"{name}_mb_s"] = stats.median(rounds) if rounds else 0.0
    for name in CLIENTS:
        m[f"{name}_msg_s"] = _rate(cells, "client", name)
    for b in BACKENDS:
        m[f"{b}.produce_msg_s"] = _rate(cells, "produce", b)
        m[f"{b}.consume_msg_s"] = _rate(cells, "consume", b)
    for corner in CORNERS:
        m[f"relay.{corner}_msg_s"] = _rate(cells, "relay", corner)
    for kind in ("produce", "consume", "relay"):
        m[f"transport.{kind}_msg_s"] = _rate(cells, kind)

    for q in QUERIES:
        walls = [stats.cell_seconds(c) for c in cells
                 if c["kind"] == "query" and c["name"] == q]
        m[f"analytics.{q}.wall_s"] = sum(walls)
    m["analytics.query_total_s"] = sum(stats.cell_seconds(c) for c in cells
                                       if c["kind"] == "query")

    timed = [c for c in cells if c["kind"] in SPARK_KINDS]
    windows = [(c["start_ms"], c["end_ms"]) for c in timed]
    m.update(stats.spark_layer(raw, windows, cores))
    plan_ms = sum(s["end_ms"] - s["start_ms"] for s in raw["spans"]
                  if s["name"] == "spark.plan"
                  and any(lo <= s["start_ms"] <= hi for lo, hi in windows))
    progress = stats.stream_layer(raw["progress"])
    m["spark.plan_s"] = (plan_ms + stats.progress_total_ms(
        raw["progress"], "queryPlanning")) / 1000.0
    m["spark.codegen_compiles"] = sum(c["compiles"] for c in timed)
    m["spark.gc_s"] = sum(c["gc_ms"] for c in timed) / 1000.0

    m.update(progress)
    m["stream.backlog_max_msgs"] = raw["values"].get("backlog_max_msgs", 0.0)
    lat = raw["samples"].get("latency_ms", [])
    m["stream.latency_p50_ms"] = stats.percentile(lat, 50) if lat else 0.0
    m["stream.latency_p99_ms"] = stats.tail(lat) if lat else 0.0
    m["stream.drain_msg_s"] = _rate(cells, "drain")
    late = raw["samples"].get("generator_late_ms", [])
    m["generator.late_ms"] = stats.percentile(late, 99) if late else 0.0
    return m
