"""Seeded in-process stand-in for the GitHub REST endpoints that
``etl_spark.etl.raw_zone.extract_snapshot`` reads.

Each ``advance()`` is one round of repository activity: every repo gets
new workflow runs (``queued``), and runs from earlier rounds move to
``in_progress`` and then ``completed`` with a conclusion. A repo's run
listing holds only the runs created in its last ``listed_rounds``
rounds, newest first, so older runs drop out of later extractions and
their latest snapshot stays in an older ``<ts>`` partition. The mock
also keeps the reference answer: the latest snapshot of every run, in
the export's order.
"""

from __future__ import annotations

import datetime
import json
import random

from etl_spark.etl.raw_zone import API_BASE, ORG, TS_FORMAT

PER_PAGE = 100
WORKFLOWS = ("CI build", "Lint", "Nightly tests", "Release", "Docs deploy")
CONCLUSIONS = ("success", "success", "success", "failure", "cancelled")
EPOCH = datetime.datetime(2025, 1, 1, tzinfo=datetime.timezone.utc)

RECORD_COLUMNS = (
    "id", "repo", "name", "head_sha", "status", "conclusion",
    "created_at", "updated_at", "run_started_at",
)


def _iso(t: datetime.datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


class Response:
    """The slice of ``requests.Response`` the connector uses."""

    status_code = 200

    def __init__(self, text: str, next_url: str | None) -> None:
        self.text = text
        self.links = {"next": {"url": next_url}} if next_url else {}

    def json(self):
        return json.loads(self.text)

    def raise_for_status(self) -> None:
        return None


class MockGitHub:
    def __init__(self, seed: int, repos: int, runs_per_round: int,
                 listed_rounds: int) -> None:
        self._rng = random.Random(seed)
        self.repos = [f"service-{i:02d}" for i in range(repos)]
        self.runs_per_round = runs_per_round
        self.listed_rounds = listed_rounds
        self.round = -1
        self._runs: dict[str, list[dict]] = {r: [] for r in self.repos}
        self._next_id = 7_000_000 + 1000 * (seed % 1000)
        # (repo, run id) -> (run as last listed, extract_ts of that listing)
        self._latest: dict[tuple[str, int], tuple[dict, str]] = {}
        self.requests = 0
        self.payload_bytes = 0

    def now(self) -> datetime.datetime:
        """The extraction time of the current round."""
        return EPOCH + datetime.timedelta(hours=self.round)

    def extract_ts(self) -> str:
        return self.now().strftime(TS_FORMAT)

    def advance(self) -> None:
        """Start the next round and record what its extraction lists."""
        self.round += 1
        now = self.now()
        for repo in self.repos:
            runs = self._runs[repo]
            for run in runs:
                if run["status"] == "queued":
                    run.update(status="in_progress", updated_at=_iso(now))
                elif run["status"] == "in_progress":
                    run.update(status="completed", updated_at=_iso(now),
                               conclusion=self._rng.choice(CONCLUSIONS))
            for _ in range(self.runs_per_round):
                created = now - datetime.timedelta(seconds=self._rng.randrange(3600))
                runs.append({
                    "id": self._next_id,
                    "name": self._rng.choice(WORKFLOWS),
                    "head_sha": f"{self._rng.getrandbits(160):040x}",
                    "status": "queued",
                    "conclusion": None,
                    "created_at": _iso(created),
                    "updated_at": _iso(created),
                    "run_started_at": _iso(created),
                    "run_number": len(runs) + 1,
                    "event": self._rng.choice(("push", "pull_request", "schedule")),
                    "html_url": f"https://github.com/{ORG}/{repo}/actions/runs/{self._next_id}",
                    "repository": {"name": repo, "full_name": f"{ORG}/{repo}"},
                    "_round": self.round,
                })
                self._next_id += 1
        ts = self.extract_ts()
        for repo in self.repos:
            for run in self._listed(repo):
                self._latest[(repo, run["id"])] = (dict(run), ts)

    def _listed(self, repo: str) -> list[dict]:
        first = self.round - self.listed_rounds + 1
        return [r for r in reversed(self._runs[repo]) if r["_round"] >= first]

    def get(self, url: str) -> Response:
        base, _, page = url.partition("?page=")
        page_no = int(page or 1)
        if base == f"{API_BASE}/orgs/{ORG}/repos":
            items = [{"name": r} for r in self.repos]
            wrap = None
        else:
            repo = base.split("/")[-3]
            items = [{k: v for k, v in r.items() if k != "_round"}
                     for r in self._listed(repo)]
            wrap = "workflow_runs"
        chunk = items[(page_no - 1) * PER_PAGE: page_no * PER_PAGE]
        body = chunk if wrap is None else {"total_count": len(items), wrap: chunk}
        more = page_no * PER_PAGE < len(items)
        text = json.dumps(body)
        self.requests += 1
        self.payload_bytes += len(text.encode())
        return Response(text, f"{base}?page={page_no + 1}" if more else None)

    def expected_records(self) -> list[tuple]:
        """Latest snapshot of every run, in the CSV export's order:
        repo dir ascending, extract ts descending, file name descending."""
        rows = sorted(
            ((repo, ts, str(rid), run) for (repo, rid), (run, ts) in self._latest.items()),
            key=lambda r: (r[0], _desc(r[1]), _desc(r[2])),
        )
        return [
            tuple(run["repository"]["name"] if c == "repo" else run[c]
                  for c in RECORD_COLUMNS) + (repo, ts, fid)
            for repo, ts, fid, run in rows
        ]


def _desc(s: str) -> tuple:
    """Sort key that orders strings descending inside an ascending sort."""
    return tuple(-ord(c) for c in s) + (1,)
