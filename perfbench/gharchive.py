"""Seeded GH-Archive hour-file generator with its own reference counts.

Each hour file is gzip NDJSON named ``yyyy/MM/dd/yyyy-MM-dd-H.json.gz``
(hour not zero-padded) and holds:

- events of the ten parsed types (FIXTURES.md section 1) in the assumed
  type shares of ``EVENT_MIX``, with payloads padded by the URL fields
  GitHub REST objects carry;
- ``DUP_SHARE`` of re-delivered duplicates: verbatim copies of an earlier
  line of the same file, so they share its dedup key;
- ``LATE_PER_FILE`` late events stamped in the previous month;
- ``CORRUPT_PER_FILE`` corrupt lines: valid JSON that does not fit the
  event schema, so the validity check passes the file and the Spark
  reader quarantines the line (the ``importFail`` count).

Every other event's ``created_at`` falls inside its file's hour, so the
pipeline's hour reconciliation never demotes a file.

The generator also returns, computed here from the event dicts it
serialized, the per-type valid counts, the dedup keys and the corrupt
count: the ingest workloads check the program against these. The dedup
key follows the ReplacingMergeTree ORDER BY of the reference
(FIXTURES.md section 2), written out again here rather than taken from
the program.
"""

from __future__ import annotations

import gzip
import json
import os
import random
from collections import Counter
from dataclasses import dataclass, field
from datetime import datetime, timedelta
from typing import NamedTuple

#: (type, share of valid events, action choices). The shares, and the line
#: sizes the payloads below come to, are assumptions, not figures measured
#: on GH Archive: no sample of real hour files is at hand. README.md says
#: why a comparison of two versions of the engine does not hinge on them.
EVENT_MIX = (
    ("PushEvent", 0.62, (None,)),
    ("WatchEvent", 0.09, ("started",)),
    ("PullRequestEvent", 0.09, ("opened", "closed", "closed", "reopened")),
    ("IssueCommentEvent", 0.06, ("created",)),
    ("PullRequestReviewEvent", 0.035, ("created",)),
    ("IssuesEvent", 0.03, ("opened", "opened", "closed", "reopened")),
    ("ForkEvent", 0.025, (None,)),
    ("PullRequestReviewCommentEvent", 0.025, ("created",)),
    ("ReleaseEvent", 0.015, ("published",)),
    ("CommitCommentEvent", 0.01, ("created",)),
)
EVENT_TYPES = tuple(t for t, _, _ in EVENT_MIX)
ISSUE_FAMILY = (
    "IssuesEvent",
    "IssueCommentEvent",
    "PullRequestEvent",
    "PullRequestReviewEvent",
    "PullRequestReviewCommentEvent",
)

LABELS = ("bug", "enhancement", "documentation", "question", "good first issue",
          "help wanted", "wontfix", "duplicate", "dependencies", "security")
WORDS = ("spark", "merge", "fix", "docs", "build", "test", "release", "json",
         "parser", "import", "schema", "query", "table", "cache", "update",
         "error", "null", "timeout", "flaky", "config")

# GitHub REST objects carry many URL fields the parser never reads; here
# they make a PullRequestEvent line ~15 KB and a WatchEvent line ~0.5 KB.
_USER_URLS = ("url", "html_url", "followers_url", "following_url", "gists_url",
              "starred_url", "subscriptions_url", "organizations_url",
              "repos_url", "events_url", "received_events_url")
_REPO_URLS = ("url", "html_url", "forks_url", "keys_url", "collaborators_url",
              "teams_url", "hooks_url", "issue_events_url", "events_url",
              "assignees_url", "branches_url", "tags_url", "blobs_url",
              "git_tags_url", "git_refs_url", "trees_url", "statuses_url",
              "languages_url", "stargazers_url", "contributors_url",
              "subscribers_url", "subscription_url", "commits_url",
              "git_commits_url", "comments_url", "issue_comment_url",
              "contents_url", "compare_url", "merges_url", "archive_url",
              "downloads_url", "issues_url", "pulls_url", "milestones_url",
              "notifications_url", "labels_url", "releases_url",
              "deployments_url", "git_url", "ssh_url", "clone_url", "svn_url")
_ISSUE_URLS = ("url", "repository_url", "labels_url", "comments_url",
               "events_url", "html_url")
_PULL_URLS = ("url", "html_url", "diff_url", "patch_url", "issue_url",
              "commits_url", "review_comments_url", "review_comment_url",
              "comments_url", "statuses_url")

CORRUPT_PER_FILE = 3
DUP_SHARE = 0.02
LATE_PER_FILE = 2
START = datetime(2024, 3, 1)
N_ACTORS = 3000
N_REPOS = 300

CORRUPT_LINES = (
    # valid JSON, wrong shape: an object field given as a string/array
    '{"id": "0", "type": "PushEvent", "actor": "ghost", "repo": {"id": 1}}',
    '{"id": "0", "type": "WatchEvent", "repo": [1, 2], "payload": {}}',
    '{"id": "0", "type": "IssuesEvent", "payload": "truncated"}',
)


class Row(NamedTuple):
    """One stored row as the reference computes it."""

    id: int
    type: str
    action: str
    repo_id: int
    actor_id: int
    month: int
    key: tuple
    labels: tuple
    merged: int


def dedup_key(ev: dict) -> tuple:
    """ReplacingMergeTree ORDER BY tuple of one raw event, with the
    parser's defaults: absent ids are 0, absent strings ''."""
    t = ev["type"]
    p = ev.get("payload") or {}
    ca = ev["created_at"]
    year, month = int(ca[:4]), int(ca[:4] + ca[5:7])
    issue_id = comment_id = review_id = review_comment_id = 0
    commit_comment_id = push_id = release_id = 0
    if t in ISSUE_FAMILY:
        issue = p.get("issue") or p.get("pull_request") or {}
        issue_id = issue.get("id") or 0
    if t == "IssueCommentEvent":
        comment_id = p["comment"]["id"]
    elif t == "PullRequestReviewEvent":
        rid = p["review"].get("id") or 0
        review_id = rid if rid > 0 else 0
    elif t == "PullRequestReviewCommentEvent":
        rid = p["comment"].get("pull_request_review_id") or 0
        review_id = rid if rid > 0 else 0
        review_comment_id = p["comment"]["id"]
    elif t == "CommitCommentEvent":
        commit_comment_id = p["comment"]["id"]
    elif t == "PushEvent":
        push_id = p["push_id"]
    elif t == "ReleaseEvent":
        release_id = p["release"]["id"]
    org = ev.get("org") or {}
    return ("GitHub", org.get("id") or 0, ev["repo"]["id"], ev["actor"]["id"],
            t, p.get("action") or "", year, month, issue_id, comment_id,
            review_id, review_comment_id, commit_comment_id, push_id,
            release_id)


def to_row(ev: dict) -> Row:
    p = ev.get("payload") or {}
    issue = (p.get("issue") or p.get("pull_request") or {}) if ev["type"] in ISSUE_FAMILY else {}
    pull = p.get("pull_request") or {}
    ca = ev["created_at"]
    return Row(
        id=int(ev["id"]),
        type=ev["type"],
        action=p.get("action") or "",
        repo_id=ev["repo"]["id"],
        actor_id=ev["actor"]["id"],
        month=int(ca[:4] + ca[5:7]),
        key=dedup_key(ev),
        labels=tuple(lb["name"] for lb in issue.get("labels") or ()),
        merged=int(bool(pull.get("merged"))) if ev["type"] in (
            "PullRequestEvent", "PullRequestReviewEvent",
            "PullRequestReviewCommentEvent") else 0,
    )


@dataclass
class FileTruth:
    """What one written hour file holds, computed from what was written."""

    rel_path: str
    lines: int = 0
    corrupt: int = 0
    duplicates: int = 0
    late: int = 0
    gz_bytes: int = 0
    raw_bytes: int = 0
    type_counts: Counter = field(default_factory=Counter)
    type_bytes: Counter = field(default_factory=Counter)
    rows: list = field(default_factory=list)

    @property
    def valid(self) -> int:
        return len(self.rows)


def _iso(dt: datetime) -> str:
    return dt.strftime("%Y-%m-%dT%H:%M:%SZ")


class GhArchiveGen:
    """Deterministic hour files: the same (seed, hour index) always gives
    the same bytes, whatever else was generated before."""

    def __init__(self, seed: int, events_per_file: int = 1000):
        self.seed = seed
        self.events_per_file = events_per_file
        self._users: dict[int, dict] = {}
        self._repos: dict[int, dict] = {}
        self._cum_w = []
        acc = 0.0
        for _, share, _ in EVENT_MIX:
            acc += share
            self._cum_w.append(acc)

    # -- naming --------------------------------------------------------
    def hour(self, index: int) -> datetime:
        return START + timedelta(hours=index)

    def rel_path(self, index: int) -> str:
        h = self.hour(index)
        return (f"{h.year}/{h.month:02d}/{h.day:02d}/"
                f"{h.year}-{h.month:02d}-{h.day:02d}-{h.hour}.json.gz")

    # -- shared objects (memoised: they depend on the id alone) --------
    def _user(self, uid: int) -> dict:
        u = self._users.get(uid)
        if u is None:
            login = f"user{uid}" + ("[bot]" if uid % 97 == 0 else "")
            base = f"https://api.github.com/users/{login}"
            u = {"login": login, "id": uid, "node_id": f"MDQ6VXNlcj{uid:08d}",
                 "avatar_url": f"https://avatars.githubusercontent.com/u/{uid}?v=4",
                 "gravatar_id": "",
                 **{k: f"{base}/{k[:-4]}" for k in _USER_URLS},
                 "type": "Bot" if uid % 97 == 0 else "User", "site_admin": False}
            self._users[uid] = u
        return u

    def _repo_obj(self, rid: int) -> dict:
        r = self._repos.get(rid)
        if r is None:
            full = f"org{rid % 41}/repo{rid}"
            base = f"https://api.github.com/repos/{full}"
            r = {"id": rid, "node_id": f"MDEwOlJlcG9zaXRvcnk{rid:08d}",
                 "name": f"repo{rid}", "full_name": full, "private": False,
                 "owner": self._user(100000 + rid % 41),
                 "description": f"repository {rid} " + WORDS[rid % len(WORDS)],
                 "fork": False,
                 **{k: f"{base}/{k[:-4]}{{/sha}}" for k in _REPO_URLS},
                 "homepage": "", "size": rid * 7, "stargazers_count": rid % 500,
                 "language": ("Python", "Go", "Rust", "JavaScript", "Java")[rid % 5],
                 "license": {"key": "mit", "spdx_id": "MIT", "name": "MIT License"},
                 "default_branch": "main", "open_issues_count": rid % 50}
            self._repos[rid] = r
        return r

    # -- per-type payloads ---------------------------------------------
    def _text(self, rng: random.Random, n: int) -> str:
        return " ".join(rng.choice(WORDS) for _ in range(n))

    def _issue(self, rng, eid, repo, ts, urls=_ISSUE_URLS):
        base = f"https://api.github.com/repos/{repo['full_name']}/issues/{eid % 100000}"
        n_labels = rng.choice((0, 0, 1, 1, 2, 3))
        return {
            **{k: f"{base}/{k[:-4]}" for k in urls},
            "id": eid, "number": eid % 100000, "title": self._text(rng, 6),
            "user": self._user(self._actor_id(rng)),
            "labels": [{"id": i, "name": n, "color": "d73a4a", "default": i == 0,
                        "description": f"{n} label"}
                       for i, n in enumerate(rng.sample(LABELS, n_labels))],
            "state": "open", "locked": False, "assignee": None, "assignees": [],
            "comments": rng.randrange(20), "created_at": ts, "updated_at": ts,
            "closed_at": None, "author_association": "CONTRIBUTOR",
            "body": self._text(rng, rng.randrange(20, 120)),
        }

    def _pull(self, rng, eid, repo, ts, action):
        pr = self._issue(rng, eid, repo, ts, urls=_PULL_URLS)
        merged = action == "closed" and rng.random() < 0.7
        head = self._repo_obj(self._repo_id(rng))
        reviewers = [self._user(self._actor_id(rng)) for _ in range(rng.choice((0, 1, 2)))]
        if reviewers:
            # An empty list is left out, as in payloads from before GitHub
            # had review requests: the parser's element_at(list, 1) fails
            # the whole import on [] under ANSI mode (see README.md).
            pr["requested_reviewers"] = reviewers
        pr.update({
            "merged": merged, "merge_commit_sha": f"{eid:040x}",
            "merged_at": ts if merged else None,
            "merged_by": self._user(self._actor_id(rng)) if merged else None,
            "commits": rng.randrange(1, 12), "additions": rng.randrange(400),
            "deletions": rng.randrange(200), "changed_files": rng.randrange(1, 30),
            "review_comments": rng.randrange(5),
            "head": {"label": f"{head['full_name']}:fix", "ref": f"fix-{eid % 997}",
                     "sha": f"{eid + 1:040x}", "user": head["owner"], "repo": head},
            "base": {"label": f"{repo['full_name']}:main", "ref": "main",
                     "sha": f"{eid + 2:040x}", "user": repo["owner"], "repo": repo},
        })
        return pr

    def _comment(self, rng, cid, repo, ts, **extra):
        return {"url": f"https://api.github.com/repos/{repo['full_name']}/comments/{cid}",
                "html_url": f"https://github.com/{repo['full_name']}#c{cid}",
                "id": cid, "user": self._user(self._actor_id(rng)),
                "created_at": ts, "updated_at": ts,
                "author_association": "MEMBER",
                "body": self._text(rng, rng.randrange(10, 80)), **extra}

    def _payload(self, rng, etype, action, eid, repo, ts):
        if etype == "PushEvent":
            n = rng.choice((1, 1, 1, 2, 3))
            return {"push_id": eid, "size": n, "distinct_size": n,
                    "ref": "refs/heads/main", "head": f"{eid:040x}",
                    "before": f"{eid - 1:040x}",
                    "commits": [{"sha": f"{eid + i:040x}",
                                 "author": {"email": f"dev{eid % 89}@example.com",
                                            "name": f"dev {eid % 89}"},
                                 "message": self._text(rng, rng.randrange(3, 15)),
                                 "distinct": True,
                                 "url": f"https://api.github.com/repos/{repo['full_name']}/commits/{eid + i:040x}"}
                                for i in range(n)]}
        if etype == "WatchEvent":
            return {"action": action}
        if etype == "ForkEvent":
            return {"forkee": {**self._repo_obj(self._repo_id(rng)), "id": eid,
                               "full_name": f"user{eid % 5000}/repo{repo['id']}",
                               "owner": self._user(self._actor_id(rng))}}
        if etype == "IssuesEvent":
            return {"action": action, "issue": self._issue(rng, eid, repo, ts)}
        if etype == "IssueCommentEvent":
            return {"action": action, "issue": self._issue(rng, eid, repo, ts),
                    "comment": self._comment(rng, eid + 1, repo, ts)}
        if etype == "PullRequestEvent":
            return {"action": action, "number": eid % 100000,
                    "pull_request": self._pull(rng, eid, repo, ts, action)}
        if etype == "PullRequestReviewEvent":
            return {"action": action,
                    "review": {"id": eid + 1, "node_id": f"PRR{eid}",
                               "user": self._user(self._actor_id(rng)),
                               "body": self._text(rng, rng.randrange(0, 30)),
                               "state": rng.choice(("approved", "commented", "changes_requested")),
                               "author_association": "MEMBER", "submitted_at": ts},
                    "pull_request": self._pull(rng, eid, repo, ts, "opened")}
        if etype == "PullRequestReviewCommentEvent":
            return {"action": action,
                    "comment": self._comment(rng, eid + 1, repo, ts,
                                             pull_request_review_id=eid + 2,
                                             path=f"src/mod{eid % 31}.py",
                                             position=rng.randrange(0, 40)),
                    "pull_request": self._pull(rng, eid, repo, ts, "opened")}
        if etype == "ReleaseEvent":
            return {"action": action,
                    "release": {"id": eid, "tag_name": f"v{eid % 50}.{eid % 7}",
                                "target_commitish": "main", "name": f"release {eid % 50}",
                                "draft": False, "prerelease": rng.random() < 0.2,
                                "author": self._user(self._actor_id(rng)),
                                "created_at": ts, "published_at": ts,
                                "body": self._text(rng, rng.randrange(20, 150)),
                                "assets": [{"name": f"pkg-{i}.tar.gz",
                                            "uploader": self._user(self._actor_id(rng)),
                                            "content_type": "application/gzip",
                                            "state": "uploaded", "size": 1000 + i,
                                            "download_count": i}
                                           for i in range(rng.choice((0, 1, 2)))]}}
        # CommitCommentEvent
        return {"action": action,
                "comment": self._comment(rng, eid, repo, ts, path=f"src/f{eid % 13}.go",
                                         position=rng.randrange(0, 9),
                                         line=rng.randrange(0, 200),
                                         commit_id=f"{eid:040x}")}

    def _actor_id(self, rng: random.Random) -> int:
        # skewed: a few very active actors, a long tail
        return 1 + int(N_ACTORS * rng.random() ** 3)

    def _repo_id(self, rng: random.Random) -> int:
        return 1 + int(N_REPOS * rng.random() ** 2)

    def _event(self, rng, index, seq, when: datetime) -> dict:
        r = rng.random() * self._cum_w[-1]
        k = next(i for i, c in enumerate(self._cum_w) if r <= c)
        etype, _, actions = EVENT_MIX[k]
        action = rng.choice(actions)
        eid = 30_000_000_000 + index * 1_000_000 + seq * 10
        repo = self._repo_obj(self._repo_id(rng))
        actor = self._user(self._actor_id(rng))
        ts = _iso(when)
        ev = {"id": str(eid), "type": etype,
              "actor": {"id": actor["id"], "login": actor["login"],
                        "display_login": actor["login"], "gravatar_id": "",
                        "url": actor["url"], "avatar_url": actor["avatar_url"]},
              "repo": {"id": repo["id"], "name": repo["full_name"], "url": repo["url"]},
              "payload": self._payload(rng, etype, action, eid, repo, ts),
              "public": True, "created_at": ts}
        if repo["id"] % 10 < 7:
            ev["org"] = {"id": 5000 + repo["id"] % 41, "login": f"org{repo['id'] % 41}",
                         "gravatar_id": "", "url": f"https://api.github.com/orgs/org{repo['id'] % 41}",
                         "avatar_url": f"https://avatars.githubusercontent.com/u/{5000 + repo['id'] % 41}?"}
        return ev

    # -- one hour file -------------------------------------------------
    def write_file(self, data_dir: str, index: int) -> FileTruth:
        """Write hour file ``index`` under ``data_dir``; return its truth."""
        rng = random.Random(f"gharchive:{self.seed}:{index}")
        rel = self.rel_path(index)
        hour0 = self.hour(index)
        n = self.events_per_file
        late_at = set(rng.sample(range(n), LATE_PER_FILE))
        month0 = hour0.replace(day=1, hour=0)
        lines: list[str] = []
        truth = FileTruth(rel_path=rel)
        for seq in range(n):
            if seq in late_at:
                when = month0 - timedelta(seconds=rng.randrange(1, 6 * 3600))
                truth.late += 1
            else:
                when = hour0 + timedelta(seconds=rng.randrange(3600))
            ev = self._event(rng, index, seq, when)
            line = json.dumps(ev, separators=(",", ":"))
            lines.append(line)
            truth.rows.append(to_row(ev))
            truth.type_counts[ev["type"]] += 1
            truth.type_bytes[ev["type"]] += len(line) + 1
        # re-deliveries: a verbatim copy of an earlier line, placed later
        n_dup = round(n * DUP_SHARE)
        for _ in range(n_dup):
            src = rng.randrange(len(lines))
            dst = rng.randrange(src + 1, len(lines) + 1)
            lines.insert(dst, lines[src])
            row = truth.rows[src]
            truth.rows.insert(dst, row)
            truth.type_counts[row.type] += 1
        truth.duplicates = n_dup
        for i in range(CORRUPT_PER_FILE):
            lines.insert(rng.randrange(len(lines) + 1),
                         CORRUPT_LINES[i % len(CORRUPT_LINES)])
        truth.corrupt = CORRUPT_PER_FILE
        truth.lines = len(lines)
        body = ("\n".join(lines) + "\n").encode()
        truth.raw_bytes = len(body)
        path = os.path.join(data_dir, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as raw, gzip.GzipFile(
            fileobj=raw, mode="wb", compresslevel=1, mtime=0
        ) as f:
            f.write(body)
        truth.gz_bytes = os.path.getsize(path)
        return truth
