"""The ingest workload ``hourly_serve``.

It feeds seeded GH-Archive hour files to ``streaming.pipeline.
run_incremental`` one tick at a time and answers the reference's
documented SQL through ``api.query`` after each. Every answer is checked
against counts the generator computed from the lines it wrote.
"""

from __future__ import annotations

import json
import os
import time
import urllib.error
import urllib.parse
import urllib.request
from collections import Counter

from clickhouse_github_log_importer_spark import api, api_server
from clickhouse_github_log_importer_spark.streaming import pipeline

from gharchive import GhArchiveGen
from workload import CheckFailed, Workload, dir_bytes

# The reference's documented query surface (README.md:72-130 of the
# reference): A1 count, A2 filtered grouped count, A3 label top-N and the
# J1 weighted repo-activity join.
SQL = {
    "A1": "SELECT COUNT(*) AS count FROM events",
    "A2": """SELECT repo_id, actor_id, COUNT(*) AS count FROM events
             WHERE type = 'IssueCommentEvent' AND action = 'created'
             GROUP BY repo_id, actor_id""",
    "A3": """SELECT label, COUNT(*) AS count FROM (
               SELECT explode(issue_labels.name) AS label FROM events
               WHERE type = 'IssuesEvent' AND action = 'opened')
             GROUP BY label ORDER BY count DESC, label ASC LIMIT 10""",
    "J1": """WITH c AS (
               SELECT repo_id, actor_id, type, action, pull_merged FROM events),
             icc AS (SELECT repo_id, actor_id, COUNT(*) AS n FROM c
                     WHERE type = 'IssueCommentEvent' AND action = 'created'
                     GROUP BY repo_id, actor_id),
             oic AS (SELECT repo_id, actor_id, COUNT(*) AS n FROM c
                     WHERE type = 'IssuesEvent' AND action = 'opened'
                     GROUP BY repo_id, actor_id),
             opc AS (SELECT repo_id, actor_id, COUNT(*) AS n FROM c
                     WHERE type = 'PullRequestEvent' AND action = 'opened'
                     GROUP BY repo_id, actor_id),
             rcc AS (SELECT repo_id, actor_id, COUNT(*) AS n FROM c
                     WHERE type = 'PullRequestReviewCommentEvent' AND action = 'created'
                     GROUP BY repo_id, actor_id),
             mpc AS (SELECT repo_id, actor_id, COUNT(*) AS n FROM c
                     WHERE type = 'PullRequestEvent' AND action = 'closed' AND pull_merged = 1
                     GROUP BY repo_id, actor_id)
             SELECT icc.repo_id, icc.actor_id,
                    icc.n + 2 * coalesce(oic.n, 0) + 3 * coalesce(opc.n, 0)
                    + 4 * coalesce(rcc.n, 0) + 5 * coalesce(mpc.n, 0) AS activity
             FROM icc
             LEFT JOIN oic ON icc.repo_id = oic.repo_id AND icc.actor_id = oic.actor_id
             LEFT JOIN opc ON icc.repo_id = opc.repo_id AND icc.actor_id = opc.actor_id
             LEFT JOIN rcc ON icc.repo_id = rcc.repo_id AND icc.actor_id = rcc.actor_id
             LEFT JOIN mpc ON icc.repo_id = mpc.repo_id AND icc.actor_id = mpc.actor_id
             ORDER BY activity DESC, repo_id ASC, actor_id ASC LIMIT 20""",
}


def expected_answers(rows) -> dict[str, list]:
    """The SQL set's answers computed in Python from generator rows."""
    def grouped(t, a, merged=None):
        return Counter((r.repo_id, r.actor_id) for r in rows
                       if r.type == t and r.action == a
                       and (merged is None or r.merged == merged))

    icc = grouped("IssueCommentEvent", "created")
    oic = grouped("IssuesEvent", "opened")
    opc = grouped("PullRequestEvent", "opened")
    rcc = grouped("PullRequestReviewCommentEvent", "created")
    mpc = grouped("PullRequestEvent", "closed", merged=1)
    labels = Counter(lb for r in rows if r.type == "IssuesEvent" and r.action == "opened"
                     for lb in r.labels)
    activity = [[rp, ac, n + 2 * oic[rp, ac] + 3 * opc[rp, ac] + 4 * rcc[rp, ac]
                 + 5 * mpc[rp, ac]] for (rp, ac), n in icc.items()]
    return {
        "A1": [[len(rows)]],
        "A2": sorted([rp, ac, n] for (rp, ac), n in icc.items()),
        "A3": sorted(([lb, n] for lb, n in labels.items()), key=lambda x: (-x[1], x[0]))[:10],
        "J1": sorted(activity, key=lambda x: (-x[2], x[0], x[1]))[:20],
    }


def _post(url: str, body: bytes) -> dict:
    with urllib.request.urlopen(url, data=body, timeout=120) as resp:
        return json.load(resp)


def check_answer(name: str, got: list, want: list) -> None:
    got = sorted(got) if name == "A2" else got
    if got != want:
        raise CheckFailed(f"{name}: got {str(got)[:200]} want {str(want)[:200]}")


class HourlyServe(Workload):
    """Per cycle: one hour file lands, one tick runs, the SQL set reads
    the live table through ``api.query``, and one ``POST /query`` probe
    goes to a long-lived ``api_server``. A round is one cycle. Every tick
    runs with ``compact_every=1``, so compaction comes due in every cycle
    and all cycles do the same work."""

    min_rounds = 3
    #: A1 answers a cycle after the SQL set, for the light-class median
    light_repeats = 3
    #: untimed cycles before the server starts. After one warm cycle the
    #: first timed cycle took 1.2-1.7 times the median of the later ones
    #: (JIT of the planning code behind the tick's wide projection)
    warm_cycles = 2

    def setup(self) -> None:
        self.gen = GhArchiveGen(self.seed)
        self.data_dir = os.path.join(self.work_dir, "gharchive")
        self.state = os.path.join(self.work_dir, "live")
        os.makedirs(self.state)
        self.table = os.path.join(self.state, "table")
        self.files: list[str] = []
        self.stored: dict[int, list] = {}
        self.pending: set[int] = set()
        self.hour = 0
        self.lines = 0  # input records landed in the table
        for _ in range(self.warm_cycles):
            self._cycle(count=False)
        # The server gets a session of its own: the cycles re-register the
        # ``events`` view in the main session, which must not reach the
        # view ``serve`` built.
        self.server = api_server.serve(self.spark.newSession(), table_paths={"events": self.table})
        self.url = "http://%s:%d/query" % self.server.server_address[:2]
        self.rows_at_start = self._stored_rows()
        if not self._probe():
            raise CheckFailed("the probe at server start does not count every stored row")

    def _rows(self) -> list:
        return [r for rows in self.stored.values() for r in rows]

    def _stored_rows(self) -> int:
        return sum(len(rows) for rows in self.stored.values())

    def _probe(self) -> bool:
        """POST /query count against the server. True when it counts every
        stored row; False on the known stale-view fault, that is the count
        the table had when the server started, or FILE_NOT_EXIST once
        compaction removed the files the server listed. Anything else
        fails the check."""
        body = urllib.parse.urlencode({"query": SQL["A1"]}).encode()
        try:
            if self.rec is not None:
                with self.rec.span("api_server.http", request=True):
                    env = _post(self.url, body)
            else:
                env = _post(self.url, body)
        except urllib.error.HTTPError as e:
            err = e.read().decode(errors="replace")
            if e.code == 400 and "FAILED_READ_FILE.FILE_NOT_EXIST" in err:
                return False
            raise CheckFailed(f"probe: HTTP {e.code}: {err[:300]}") from None
        got = env.get("data")
        if got == [[self._stored_rows()]]:
            return True
        if got == [[self.rows_at_start]]:
            return False
        raise CheckFailed(f"probe: count {got}, stored {self._stored_rows()}, "
                          f"at server start {self.rows_at_start}")

    def _tick(self):
        """One ``run_incremental`` call; returns (status, seconds)."""
        t0 = time.perf_counter()
        status = pipeline.run_incremental(
            self.spark,
            os.path.join(self.state, "meta.json"),
            self.data_dir,
            self.table,
            expected_files=self.files,
            compact_every=1,
        )
        return status, time.perf_counter() - t0

    def _query_set(self) -> dict[str, float]:
        """Refresh the view, run the SQL set, check each answer; return
        per-query seconds (plus the view refresh as 'views')."""
        want = expected_answers(self._rows())
        out = {}
        t0 = time.perf_counter()
        api.register_views(self.spark, {"events": self.table})
        out["views"] = time.perf_counter() - t0
        for name, sql in SQL.items():
            t0 = time.perf_counter()
            env = api.query(self.spark, sql)
            out[name] = time.perf_counter() - t0
            check_answer(name, env["data"], want[name])
        return out

    def _cycle(self, count: bool = True) -> None:
        truth = self.gen.write_file(self.data_dir, self.hour)
        self.hour += 1
        self.files.append(truth.rel_path)
        status, tick_s = self._tick()
        for r in truth.rows:
            self.stored.setdefault(r.month, []).append(r)
        self.pending |= {r.month for r in truth.rows}
        if status["importFail"] != truth.corrupt or status["imported_this_run"] != 1:
            raise CheckFailed(f"tick status {status}")
        compacted = status["compacted_months"]
        if compacted:
            if set(compacted) != self.pending:
                raise CheckFailed(f"compacted {compacted}, expected {sorted(self.pending)}")
            for m in compacted:
                keep = {}
                for r in self.stored[m]:
                    if r.key not in keep or r.id > keep[r.key].id:
                        keep[r.key] = r
                self.stored[m] = list(keep.values())
            self.pending = set()
        q = self._query_set()
        light = []
        for _ in range(self.light_repeats):
            t0 = time.perf_counter()
            env = api.query(self.spark, SQL["A1"])
            light.append(time.perf_counter() - t0)
            check_answer("A1", env["data"], [[self._stored_rows()]])
        if compacted:
            got = {r[0]: r[1] for r in self.spark.read.parquet(self.table)
                   .groupBy("created_month").count().collect()}
            want = {m: len(self.stored[m]) for m in compacted}
            if any(got.get(m) != n for m, n in want.items()):
                raise CheckFailed(f"distinct keys after compaction: got {got} want {want}")
        if count:
            t0 = time.perf_counter()
            ok = self._probe()
            probe_s = time.perf_counter() - t0
            self.attempted += 1 + len(SQL) + self.light_repeats + 1
            self.failed += 0 if ok else 1
            self.samples["records_per_s"].append(truth.lines / tick_s)
            self.samples["freshness_p50_s"].append(tick_s + q["views"] + q["A1"])
            self.samples["query_set_s"].append(sum(q[k] for k in SQL))
            self.samples["light_p50_s"].extend(light)
            self.samples["round_s"].append(tick_s + sum(q.values()) + sum(light) + probe_s)
        self.lines += truth.lines

    def run_round(self) -> None:
        self._cycle()

    def finish(self) -> None:
        self.samples["stored_bytes_per_record"].append(dir_bytes(self.table) / self.lines)
        got = {r["type"]: r["n"] for r in self.spark.read.parquet(self.table)
               .groupBy("type").count().withColumnRenamed("count", "n").collect()}
        want = dict(Counter(r.type for r in self._rows()))
        if got != want:
            raise CheckFailed(f"per-type counts: got {got} want {want}")
