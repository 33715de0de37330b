#!/usr/bin/env python3
"""The repo's benchmark: the IMDb transfer -> build -> query pipeline and
a panel of operator gates, timed end to end and per layer from outside
the program.

    python3 perfbench/run.py --workload imdb|gates --seed N --seconds S --trace 0|1

Run it from the root of a checkout. The first run compiles the program
and the JVM harness (perfbench/scala) with the Scala compiler that ships
in $SPARK_HOME/jars, and generates the base corpus; both are cached
under .bench_build/. Each run prints one metric per line and, last, one
JSON summary line. See perfbench/README.md for the metrics.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import spans  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
SRC = ROOT / "src" / "main" / "scala"
CACHE = ROOT / ".bench_build" / "perfbench"
RUN_LIMIT_S = 170  # the run must exit within 180 s; keep a margin

# imdb: BuildBench's corpus shape at this many titles (and as many names),
# plus a seeded 1 % of each dataset's rows appended again as duplicates.
TITLES = 20000
TINY_TITLES = 200
DUP_SHARE = 0.01
DATASETS = {  # file stem -> table name Pimdb registers
    "name.basics": "NameBasics", "title.akas": "TitleAkas", "title.basics": "TitleBasics",
    "title.crew": "TitleCrew", "title.episode": "TitleEpisode",
    "title.principals": "TitlePrincipals", "title.ratings": "TitleRatings"}
NORMALIZED = [
    "title_alias_type", "title_type", "genre", "profession", "name", "title", "title_alias",
    "title_alias_to_title_alias_type", "episode", "participation", "character",
    "temp_characters_to_character", "participation_to_character", "name_to_known_for_title",
    "title_to_genre"]
# the reference's fixed title-alias type vocabulary (AliasTypes.Vocabulary)
ALIAS_TYPES = ["alternative", "dvd", "festival", "tv", "video", "working", "original",
               "imdbDisplay"]

# gates: per operator family, the gate at the lower quartile of the
# family's cost in one cold pass of all 203 gates at sf0.01 on 4 cores
# (sorted index (n-1)//4); StreamingOps also gives the next-costlier gate,
# so two q_stream_* gates measure the trigger machinery. A full pass
# (~160 s at sf0.01 on 4 cores) does not fit the per-run time limit.
PANEL = [
    "q_join_range", "q_grouping_sets", "q_volume_trend", "q_profile", "q_text_quality",
    "q_source_cap", "q_dedup_bloom", "q_sim_ivf_search", "q_join_skew_salted",
    "q_media_header", "q_stream_cm", "q_stream_hll", "q_hilbert_value", "q_scd2_history"]
SF_DIR = HERE / "data" / "sf0.01"
SF_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
             "events", "documents", "embeddings"]
FAMILIES = ["Relational", "Analytics", "EventAnalytics", "Profiler", "TextOps", "CurationOps",
            "DedupOps", "SimilarityOps", "SkewJoin", "Multimodal", "StreamingOps", "ZOrder",
            "WarehouseOps"]
STREAM_PHASES = ["addBatch", "queryPlanning", "getBatch", "latestOffset", "walCommit",
                 "commitOffsets", "triggerExecution"]

JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]] + [
    "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cpus():
    return len(os.sched_getaffinity(0))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not (Path(home) / "jars").is_dir():
        fail("SPARK_HOME must point at a Spark distribution (its jars/ are the classpath)")
    return Path(home) / "jars"


# ---------------------------------------------------------------- build

def build():
    """Compile src/main/scala plus the harness once per source state."""
    sources = sorted(SRC.rglob("*.scala")) + sorted((HERE / "scala").glob("*.scala"))
    digest = hashlib.sha256()
    for f in sources:
        digest.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    stamp = digest.hexdigest()
    classes = CACHE / "classes"
    if (classes / "STAMP").is_file() and (classes / "STAMP").read_text() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    jars = f"{spark_jars()}/*"
    res = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
         "-d", str(classes), "-classpath", jars] + [str(f) for f in sources],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        fail("compilation failed")
    (classes / "STAMP").write_text(stamp)
    return classes


def harness(classes, cwd, deadline, **opts):
    """Run the JVM harness; returns (launch epoch ms, event records)."""
    tmp = cwd / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    out = cwd / f"events-{opts['mode']}.jsonl"
    args = [x for k, v in opts.items() for x in (f"--{k}", str(v))]
    cmd = (["java"] + JAVA_OPTS +
           [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            "-cp", f"{classes}:{spark_jars()}/*", "graft.perfbench.Harness",
            "--cpus", str(cpus()), "--out", str(out)] + args)
    launch = time.time() * 1e3
    with open(cwd / f"jvm-{opts['mode']}.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness {opts['mode']} ran past the time limit; see {log.name}")
    if code != 0 or not out.is_file():
        tail = (cwd / f"jvm-{opts['mode']}.log").read_text(errors="replace")[-3000:]
        sys.stderr.write(tail)
        fail(f"harness {opts['mode']} exited with {code}")
    return launch, [json.loads(l) for l in out.read_text().splitlines() if l]


# ---------------------------------------------------------------- imdb inputs

def base_corpus(classes, titles, deadline):
    """BuildBench.generate's seed-free corpus plus the counts it implies."""
    d = CACHE / "corpus" / f"base-{titles}"
    marker = d / "expected.json"
    if marker.is_file():
        return d, json.loads(marker.read_text())
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    harness(classes, d, deadline, mode="gen", dir=d, titles=titles)
    expected = implied_counts(d)
    marker.write_text(json.dumps(expected))
    return d, expected


def read_tsv(path):
    with open(path, encoding="utf-8") as f:
        header = f.readline().rstrip("\n").split("\t")
        return [dict(zip(header, line.rstrip("\n").split("\t"))) for line in f]


def implied_counts(d):
    """Row counts of the 7 datasets and the 15 normalized tables, derived
    from the generated TSVs by Build's rules, independently of Spark."""
    ds = {stem: read_tsv(d / f"{stem}.tsv") for stem in DATASETS}
    null = "\\N"
    titles = {r["tconst"] for r in ds["title.basics"]}
    names = {r["nconst"] for r in ds["name.basics"]}
    akas = [r for r in ds["title.akas"] if r["titleId"] in titles]

    def alias_types(raw):
        n, rest = 0, raw
        for tok in ALIAS_TYPES:
            if tok in rest:
                n, rest = n + 1, rest.replace(tok, "")
        return n

    genres = [r["genres"].split(",") for r in ds["title.basics"] if r["genres"] != null]
    parts = [r for r in ds["title.principals"] if r["nconst"] in names and r["tconst"] in titles]
    chars = {r["characters"] for r in ds["title.principals"] if r["characters"] != null}
    char_names = [json.loads(c) for c in chars]
    known = [r["knownForTitles"].split(",") for r in ds["name.basics"]
             if r["knownForTitles"] != null]
    normalized = {
        "title_alias_type": len(ALIAS_TYPES),
        "title_type": len({r["titleType"] for r in ds["title.basics"]}),
        "genre": len({g for gs in genres for g in gs}),
        "profession": len({r["category"] for r in ds["title.principals"]}),
        "name": len(names),
        "title": len(titles),
        "title_alias": len(akas),
        "title_alias_to_title_alias_type": sum(alias_types(r["types"]) for r in akas
                                               if r["types"] != null),
        "episode": sum(r["tconst"] in titles and r["parentTconst"] in titles
                       for r in ds["title.episode"]),
        "participation": len(parts),
        "character": len({n for ns in char_names for n in ns}),
        "temp_characters_to_character": sum(len(ns) for ns in char_names),
        "participation_to_character": sum(len(json.loads(r["characters"])) for r in parts
                                          if r["characters"] != null),
        "name_to_known_for_title": sum(t in titles for ts in known for t in ts),
        "title_to_genre": sum(len(gs) for gs in genres),
    }
    return {"datasets": {DATASETS[s]: len(rows) for s, rows in ds.items()},
            "normalized": normalized}


def seeded_corpus(base, titles, seed):
    """The base corpus with a seeded DUP_SHARE of each dataset's rows
    appended again (distinct rows, so each dataset's duplicate count is
    exactly the number appended). Cached by (titles, seed)."""
    d = CACHE / "corpus" / f"{titles}-s{seed}"
    marker = d / "dups.json"
    if not marker.is_file():
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
        dups = {}
        for stem, table in DATASETS.items():
            lines = (base / f"{stem}.tsv").read_bytes().splitlines(keepends=True)
            rows = lines[1:]
            picks = random.Random(f"{seed}/{stem}").sample(range(len(rows)),
                                                           int(len(rows) * DUP_SHARE))
            with open(d / f"{stem}.tsv", "wb") as f:
                f.writelines(lines)
                f.writelines(rows[i] for i in sorted(picks))
            dups[table] = len(picks)
        marker.write_text(json.dumps(dups))
        old = sorted((p for p in d.parent.glob(f"{titles}-s*") if p != d),
                     key=lambda p: p.stat().st_mtime)
        for p in old[:-3]:  # keep the last few seeds' corpora only
            shutil.rmtree(p, ignore_errors=True)
    return d, json.loads(marker.read_text())


def skewed(rng, n):
    """An id in [0, n) drawn with a heavy head: a few keys are hot."""
    return min(n - 1, int(n * rng.random() ** 3))


def query_plan(seed, titles, count=400):
    """Reference-shaped SQL with seeded, skewed parameters, in a fixed
    cycle of the four lookup shapes then the four scan shapes, each
    tagged with its shape (L0..L3, S0..S3)."""
    rng = random.Random(seed)

    def tconst():
        return f"tt{skewed(rng, titles):09d}"

    lookups = [
        lambda: ("SELECT t.tconst, t.primary_title FROM name n "
                 "JOIN name_to_known_for_title k ON k.name_id = n.id "
                 "JOIN title t ON t.id = k.title_id "
                 f"WHERE n.primary_name = 'Synthetic Person {skewed(rng, titles) | 1}'"),
        lambda: ("SELECT DISTINCT t.tconst, t.primary_title FROM \"character\" c "
                 "JOIN participation_to_character pc ON pc.character_id = c.id "
                 "JOIN participation p ON p.id = pc.participation_id "
                 "JOIN title t ON t.id = p.title_id "
                 f"WHERE c.name = 'Character {skewed(rng, 1000)}'"),
        lambda: ("SELECT n.nconst, n.primary_name, p.ordering, pr.name AS profession "
                 "FROM title t JOIN participation p ON p.title_id = t.id "
                 "JOIN name n ON n.id = p.name_id "
                 "JOIN profession pr ON pr.id = p.profession_id "
                 f"WHERE t.tconst = '{tconst()}'"),
        lambda: ("SELECT tconst, \"primaryTitle\", \"startYear\", \"runtimeMinutes\" "
                 f"FROM \"TitleBasics\" WHERE tconst = '{tconst()}'"),
    ]
    scans = [
        lambda: ("SELECT g.name AS genre, CAST(FLOOR(t.start_year / 10) * 10 AS INT) AS decade, "
                 "COUNT(*) AS n FROM title t JOIN title_to_genre tg ON tg.title_id = t.id "
                 "JOIN genre g ON g.id = tg.genre_id "
                 f"WHERE t.start_year >= {1900 + 10 * rng.randrange(10)} GROUP BY 1, 2"),
        lambda: ("SELECT t.tconst, t.primary_title, t.rating_count FROM title t "
                 f"WHERE t.rating_count >= {rng.randrange(5, 100000)} "
                 "ORDER BY t.average_rating DESC, t.rating_count DESC, t.tconst LIMIT 20"),
        lambda: ("SELECT pr.name AS profession, COUNT(*) AS n FROM participation p "
                 "JOIN profession pr ON pr.id = p.profession_id "
                 "JOIN title t ON t.id = p.title_id "
                 f"WHERE t.start_year BETWEEN {(y := 1900 + rng.randrange(100))} AND {y + 20} "
                 "GROUP BY pr.name"),
        lambda: ("SELECT s.tconst AS series, COUNT(*) AS episodes, MAX(e.season) AS seasons "
                 "FROM episode e JOIN title s ON s.id = e.parent_title_id "
                 f"WHERE e.season <= {1 + rng.randrange(12)} GROUP BY s.tconst"),
    ]
    shapes = [(f"L{k}", q) for k, q in enumerate(lookups)] + [(f"S{k}", q) for k, q in enumerate(scans)]
    return [(tag, make()) for tag, make in (shapes[i % len(shapes)] for i in range(count))]


# ---------------------------------------------------------------- DuckDB oracle

def duck():
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads = 2")
    return con


def tsv_value(v):
    """A value the way TsvWriter.stream prints it (Java toString)."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def row_hash(rows):
    """Order-insensitive: sum of each TSV line's 64-bit MD5 prefix."""
    total = 0
    for r in rows:
        line = "\t".join(tsv_value(v) for v in r).encode("utf-8")
        total += int.from_bytes(hashlib.md5(line).digest()[:8], "big")
    return str(total % (1 << 64))


# ---------------------------------------------------------------- metrics

def by_kind(events):
    kinds = {}
    for e in events:
        kinds.setdefault(e["k"], []).append(e)
    return kinds


def setup_seconds(launch, ev):
    """Launch -> first warm-up, plus the median warm-up: set-up repeated
    in-run, its median reported."""
    warm = [s for s in ev["span"] if s["name"] == "warmup"]
    first = min(s["t0"] for s in warm)
    return ((first - launch) + spans.median([s["t1"] - s["t0"] for s in warm])) / 1e3


def typical_ms(ops, key, per_kind):
    """Geometric mean over operation kinds of `per_kind` of each kind's
    latencies: one figure per run that does not jump between kinds the
    way a median over a mix of fast and slow kinds does."""
    kinds = {}
    for o in ops:
        kinds.setdefault(o[key], []).append(o["ms"])
    return statistics.geometric_mean([per_kind(v) for v in kinds.values()])


def heap_peak(ev):
    lo, hi = ev["measure"][0]["t"], ev["measure_end"][0]["t"]
    live = [g["live_mb"] for g in ev.get("gc", []) if lo <= g["t"] <= hi]
    return max(live) if live else 0.0


def tail_of(ms):
    t = spans.tail(ms)
    return t if t else (max(ms) if ms else 0.0, 100.0, len(ms))


def dir_bytes(d):
    return sum(f.stat().st_size for f in Path(d).rglob("*.parquet"))


def imdb_run(args, classes, deadline, work):
    base, expected = base_corpus(classes, TITLES, deadline)
    tiny, _ = base_corpus(classes, TINY_TITLES, deadline)
    corpus, dups = seeded_corpus(base, TITLES, args.seed)
    plan = query_plan(args.seed, TITLES)
    qfile = work / "queries.tsv"
    qfile.write_text("".join(f"{c}\t{q}\n" for c, q in plan))
    deadline = max(deadline, time.time() + 150)  # after a first run's corpus generation
    launch, events = harness(classes, work, deadline, mode="imdb", corpus=corpus, tiny=tiny,
                             work=work, queries=qfile, seconds=args.seconds, warmups=1,
                             trace=args.trace, seed=args.seed)
    ev = by_kind(events)
    wh = work / "warehouse"
    timed = [s for s in ev["span"] if s["t0"] >= ev["measure"][0]["t"]]
    transfer = next(s for s in timed if s["name"] == "transfer")
    build_span = next(s for s in timed if s["name"] == "build")
    ops = ev.get("op", [])

    # output checks
    problems = []
    con = duck()
    for t in DATASETS.values():
        con.execute(f"CREATE VIEW \"{t}\" AS SELECT * FROM read_parquet('{wh}/datasets/{t}/*.parquet')")
    for t in NORMALIZED:
        con.execute(f"CREATE VIEW \"{t}\" AS SELECT * FROM read_parquet('{wh}/normalized/{t}/*.parquet')")
    answers = {}
    bad_ops = 0
    for op in ops:
        sql = plan[op["q"]][1]
        if sql not in answers:
            rows = con.execute(sql).fetchall()
            answers[sql] = (len(rows), row_hash(rows))
        if not op["ok"] or (op["rows"], op["hash"]) != answers[sql]:
            bad_ops += 1
            if len(problems) < 5:
                problems.append(f"query {op['q']} got {op['rows']}/{op['hash']} want {answers[sql]}")
    counts = {(layer, t): con.execute(f"SELECT count(*) FROM \"{t}\"").fetchone()[0]
              for layer, names in (("datasets", DATASETS.values()), ("normalized", NORMALIZED))
              for t in names}
    transfer_ok = all(counts.get(("datasets", t)) == n for t, n in expected["datasets"].items())
    transfer_ok &= ev["dups"][0]["counts"] == {s: dups[t] for s, t in DATASETS.items()}
    build_ok = not ev["warnings"][0]["list"] and all(
        counts.get(("normalized", t)) == n for t, n in expected["normalized"].items())
    if not transfer_ok:
        problems.append(f"transfer rows/dups {counts} {ev['dups'][0]['counts']} want {expected['datasets']} {dups}")
    if not build_ok:
        problems.append(f"build warnings {ev['warnings'][0]['list']} or counts differ from {expected['normalized']}")

    ms = [o["ms"] for o in ops]
    tail_ms, tail_pct, tail_n = tail_of(ms)
    tsv_bytes = sum((corpus / f"{s}.tsv").stat().st_size for s in DATASETS)
    tsv_rows = sum(expected["datasets"].values()) + sum(dups.values())
    e2e = {
        "setup_s": setup_seconds(launch, ev),
        "work_s": (transfer["t1"] - transfer["t0"] + build_span["t1"] - build_span["t0"]) / 1e3,
    }
    workload = {
        "cpu_s": ev["pipeline_end"][0]["cpu"] - ev["measure"][0]["cpu"],
        "op_ms": typical_ms(ops, "cls", spans.median),
        "live_heap_peak_mb": heap_peak(ev),
        "imdb.transfer_s": (transfer["t1"] - transfer["t0"]) / 1e3,
        "imdb.build_s": (build_span["t1"] - build_span["t0"]) / 1e3,
        "imdb.lookup_p50_ms": spans.median([o["ms"] for o in ops if o["cls"][0] == "L"]),
        "imdb.scan_p50_ms": spans.median([o["ms"] for o in ops if o["cls"][0] == "S"]),
        "imdb.query_tail_ms": tail_ms,
        "imdb.warehouse_bytes_per_tsv_byte": dir_bytes(wh) / tsv_bytes,
    }
    context = {"query_tail_percentile": tail_pct, "query_tail_n": tail_n,
               "tsv_rows": tsv_rows, "tsv_bytes": tsv_bytes, "warehouse_bytes": dir_bytes(wh),
               "titles": TITLES, "dup_rows": sum(dups.values())}
    layers = imdb_layers(ev, transfer, build_span, ops, tsv_rows) if args.trace else {}
    attempted = 2 + len(ops)
    failed = bad_ops + (not transfer_ok) + (not build_ok)
    return e2e, workload, layers, context, attempted, failed, problems, ev


def imdb_layers(ev, transfer, build_span, ops, tsv_rows):
    jobs, sqls = ev.get("job", []), ev.get("sql", [])
    exec_path = {s["id"]: s["path"] for s in sqls}
    out = {}
    for t in DATASETS.values():
        s = next(x for x in ev["span"] if x["name"] == f"transfer.{t}")
        js = spans.within(jobs, s)
        out[f"transfer.{t}.s"] = (s["t1"] - s["t0"]) / 1e3
        out[f"transfer.{t}.shuffle_mb"] = sum(j["shuffle_write"] for j in js) / 1e6
        out[f"transfer.{t}.driver_gap_s"] = spans.driver_gap(s, js) / 1e3
    tj = spans.within(jobs, transfer)
    scan = [j for j in tj if "TsvReader" in j["site"]]
    write = [j for j in tj if exec_path.get(j["exec"], "").startswith("datasets/")]
    out["transfer.scan_s"] = spans.union_length([(j["t0"], j["t1"]) for j in scan]) / 1e3
    out["transfer.write_s"] = spans.union_length([(j["t0"], j["t1"]) for j in write]) / 1e3
    out["transfer.spill_mb"] = sum(j["spill"] for j in tj) / 1e6
    out["transfer.gc_s"] = sum(j["gc_ms"] for j in tj) / 1e3
    out["transfer.kept_ratio"] = sum(j["records_written"] for j in write) / tsv_rows

    bj = spans.within(jobs, build_span)
    marks = [(s["path"].split("/", 1)[1], s["t1"]) for s in spans.within(sqls, build_span)
             if s["path"].startswith("normalized/")]
    parts, rest = spans.contiguous(build_span["t0"], build_span["t1"], marks)
    for name, ms in parts:
        out[f"build.{name}.s"] = ms / 1e3
    out["build.jobs"] = len(bj)
    out["build.shuffle_mb"] = sum(j["shuffle_write"] for j in bj) / 1e6
    out["build.driver_gap_s"] = spans.driver_gap(build_span, bj) / 1e3
    out["build.validate_s"] = rest / 1e3
    cache = [c["bytes"] for c in spans.within(ev.get("cache", []), build_span)]
    out["build.cache_peak_mb"] = max(cache, default=0) / 1e6

    qspans = [s for s in ev["span"] if s["name"] == "query"]
    plan = [s for s in ev["span"] if s["name"] == "query.plan"]
    execs = [s for s in ev["span"] if s["name"] == "query.exec"]
    scans = ev.get("scan", [])
    out["query.plan_ms"] = spans.median([s["t1"] - s["t0"] for s in plan])
    out["query.exec_ms"] = spans.median([s["t1"] - s["t0"] for s in execs])
    out["query.jobs"] = sum(len(spans.within(jobs, s)) for s in qspans) / max(1, len(qspans))
    out["query.files_read"] = sum(s["files"] for s in scans) / max(1, len(scans))
    out["query.scan_bytes_per_row"] = sum(s["bytes"] for s in scans) / max(1, sum(o["rows"] for o in ops))
    return out


def gates_run(args, classes, deadline, work):
    if not SF_DIR.is_dir():
        fail(f"missing gate tables {SF_DIR}")
    launch, events = harness(classes, work, deadline, mode="gates", sf=SF_DIR, gates=",".join(PANEL),
                             seconds=args.seconds, trace=args.trace, seed=args.seed, warmups=3)
    ev = by_kind(events)
    ops = ev["op"]
    passes = max(o["pass"] for o in ops)

    # output checks: every gate completes; row counts equal the oracle's
    cache_file = CACHE / "oracle_counts.json"
    cache = json.loads(cache_file.read_text()) if cache_file.is_file() else {}
    con = None
    problems, wrong = [], set()
    for c in ev["check"]:
        key = None
        if c["oracle"] is None:
            ok = c["rows"] > 0
        else:
            key = hashlib.sha256(f"{SF_DIR.name}\0{c['oracle']}".encode()).hexdigest()
            if key not in cache:
                if con is None:
                    con = duck()
                    for t in SF_TABLES:
                        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
                cache[key] = con.execute(f"SELECT count(*) FROM ({c['oracle']})").fetchone()[0]
            ok = c["rows"] == cache[key]
        if not ok:
            wrong.add(c["gate"])
            problems.append(f"{c['gate']}: {c['rows']} rows, oracle {cache.get(key)}")
    cache_file.write_text(json.dumps(cache))
    failed_ops = [o for o in ops if not o["ok"] or o["gate"] in wrong]
    for o in ops:
        if not o["ok"]:
            problems.append(f"{o['gate']} failed in pass {o['pass']}")

    # each gate's fastest pass, as Bench records it: the passes run the
    # same work, and noise from the rest of the box only adds time
    best, best_cpu = {}, {}
    for o in ops:
        best[o["gate"]] = min(o["ms"], best.get(o["gate"], o["ms"]))
        best_cpu[o["gate"]] = min(o["cpu"], best_cpu.get(o["gate"], o["cpu"]))
    stream = {o["gate"] for o in ops if o["stream"]}
    e2e = {
        "setup_s": setup_seconds(launch, ev),
        "work_s": sum(best.values()) / 1e3,
    }
    workload = {
        "cpu_s": sum(best_cpu.values()),
        "op_ms": typical_ms(ops, "gate", min),
        "live_heap_peak_mb": heap_peak(ev),
        "gates.batch_s": sum(v for g, v in best.items() if g not in stream) / 1e3,
        "gates.stream_s": sum(v for g, v in best.items() if g in stream) / 1e3,
    }
    context = {"passes": passes,
               "panel": len(PANEL), "registry": ev["registry"][0]["n"],
               "sf_bytes": sum((SF_DIR / f"{t}.parquet").stat().st_size for t in SF_TABLES)}
    layers = gates_layers(ev, passes) if args.trace else {}
    attempted = len(ops) + len(ev["check"])
    failed = len(failed_ops) + len(wrong)
    return e2e, workload, layers, context, attempted, failed, problems, ev


def gates_layers(ev, passes):
    jobs, trig = ev.get("job", []), ev.get("trigger", [])
    gspans = [s for s in ev["span"] if s["name"] == "gate"]
    out = {}
    for fam in FAMILIES:
        fs = [s for s in gspans if s["family"] == fam]
        out[f"gates.{fam}.s"] = sum(s["t1"] - s["t0"] for s in fs) / 1e3 / passes
        out[f"gates.{fam}.jobs"] = sum(len(spans.within(jobs, s)) for s in fs) / passes
        out[f"gates.{fam}.driver_gap_s"] = sum(
            spans.driver_gap(s, spans.within(jobs, s)) for s in fs) / 1e3 / passes
    gj = [j for s in gspans for j in spans.within(jobs, s)]
    out["gates.stages"] = sum(j["stages"] for j in gj) / passes
    out["gates.tasks"] = sum(j["tasks"] for j in gj) / passes
    out["gates.task_s"] = sum(j["task_ms"] for j in gj) / 1e3 / passes
    out["gates.shuffle_mb"] = sum(j["shuffle_write"] for j in gj) / 1e6 / passes
    out["gates.gc_s"] = sum(j["gc_ms"] for j in gj) / 1e3 / passes
    out["gates.job_wall_p50_ms"] = spans.median([j["t1"] - j["t0"] for j in gj])
    out["gates.tasks_failed"] = sum(j["tasks_failed"] for j in gj) / passes
    sspans = [s for s in gspans if s["gate"].startswith("q_stream_")]
    st = [t for s in sspans for t in spans.within(trig, s)]
    out["stream.triggers"] = len(st) / passes
    for ph in STREAM_PHASES:
        out[f"stream.{ph}_s"] = sum(t["ms"].get(ph, 0) for t in st) / 1e3 / passes
    out["stream.outside_trigger_s"] = (sum(s["t1"] - s["t0"] for s in sspans) / 1e3 / passes
                                       - out["stream.triggerExecution_s"])
    return out


def write_trace(args, span_records):
    """The traced run's spans with their self time, one JSON line each,
    under .bench_build/perfbench/traces/ (kept across runs)."""
    run_id = f"{args.workload}-s{args.seed}-{int(time.time())}"
    selfs = spans.self_times(span_records)
    d = CACHE / "traces"
    d.mkdir(parents=True, exist_ok=True)
    with open(d / f"{run_id}.jsonl", "w") as f:
        for s in span_records:
            rec = {k: v for k, v in s.items() if k != "k"}
            f.write(json.dumps({**rec, "self_ms": selfs[s["id"]], "run": run_id}) + "\n")


def session_layers(ev):
    warm = [s["t1"] - s["t0"] for s in ev["span"] if s["name"] == "warmup"]
    return {"session.start_s": (ev["session"][0]["t"] - ev["boot"][0]["t"]) / 1e3,
            "warmup_s": spans.median(warm) / 1e3}


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["imdb", "gates"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not (SRC / "graft" / "imdb" / "Pimdb.scala").is_file():
        fail(f"run from the root of a pimdbspark checkout ({SRC} not found)")
    start = time.time()
    classes = build()
    # a run that had to compile gets a fresh budget for the rest
    deadline = max(start + RUN_LIMIT_S, time.time() + 150)
    work = CACHE / "work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    run = imdb_run if args.workload == "imdb" else gates_run
    e2e, workload, layers, context, attempted, failed, problems, ev = run(args, classes, deadline, work)
    if args.trace:
        layers.update(session_layers(ev))
        write_trace(args, ev["span"])
    context.update({f"probe_{p['when']}_s": p["s"] for p in ev.get("probe", [])})
    context.update({k: v for k, v in ev["memory"][0].items() if k != "k"})
    context.update(nproc=cpus(), mem_total_kb=mem_total_kb())
    for p in problems:
        print(json.dumps({"problem": p})[:1800])
    for k, v in context.items():
        print(json.dumps({"context": k, "value": v}))
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    unit = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for k, v in {**e2e, **workload, **layers}.items():
        print(json.dumps({"metric": k, "value": v, "unit": unit[k]}))
    if args.trace:
        # a layer the workload does not run reads 0
        measured = {**workload, **layers}
        metrics = {m["name"]: {"value": measured.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {k: {"value": v, "unit": unit[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0 and not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def mem_total_kb():
    with open("/proc/meminfo") as f:
        return next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))


if __name__ == "__main__":
    main()
