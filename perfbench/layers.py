"""The per-layer metrics a traced run prints: (name, unit, better).

Every traced run prints all of them; a layer a workload does not drive
reads 0 there. BENCHMARK.json lists the same names and units."""

FAMILIES = ["q", "s", "t", "d", "a", "e", "c", "m"]

PER_LAYER = [
    # serve_mixed: the api layer, the coalescer's chunk jobs, the cube
    ("api.parse_ms", "ms", "lower"),
    ("api.extract_ms", "ms", "lower"),
    ("api.serialize_ms", "ms", "lower"),
    ("api.http_ms", "ms", "lower"),
    ("api.coalescer.requests_per_job", "ratio", "higher"),
    ("spark.job_ms", "ms", "lower"),
    ("spark.tasks_per_job", "ratio", "lower"),
    ("spark.jobs_per_request", "ratio", "lower"),
    ("cube.serving_cube_build_ms", "ms", "lower"),
]
for _phase in ("cold", "warm"):
    for _f in FAMILIES:
        for _m, _u in (("construct_ms", "ms"), ("construct_jobs", "count"),
                       ("catalyst_ms", "ms"), ("execute_ms", "ms"),
                       ("jobs", "count")):
            PER_LAYER.append((f"suite.{_phase}.{_f}.{_m}", _u, "lower"))
    for _m, _u in (("stages", "count"), ("tasks", "count"),
                   ("executor_cpu_ms", "ms"),
                   ("input_bytes", "bytes"), ("shuffle_bytes", "bytes"),
                   ("spill_bytes", "bytes")):
        PER_LAYER.append((f"suite.{_phase}.{_m}", _u, "lower"))
PER_LAYER += [
    ("suite.cold.index_bytes_written", "bytes", "lower"),
    # suite_ingest, ingest phase: pipeline calls and the index root
    ("pipeline.probe_ms.minhash", "ms", "lower"),
    ("pipeline.probe_ms.ann", "ms", "lower"),
    ("pipeline.append_ms.minhash", "ms", "lower"),
    ("pipeline.append_ms.ann", "ms", "lower"),
    ("pipeline.takedown_ms", "ms", "lower"),
    ("pipeline.compact_ms", "ms", "lower"),
    ("pipeline.construct_jobs_per_op", "jobs/op", "lower"),
    ("spark.jobs_per_batch", "jobs/batch", "lower"),
    ("sources.index_files", "count", "lower"),
    ("sources.write_amp", "ratio", "lower"),
    # both workloads: traced minus untraced time of the same work
    ("trace.overhead_pct", "%", "lower"),
]
