"""Seeded Jira/Tempo emulator plus a pure-Python last-writer-wins model.

The three endpoints keep the response shapes of
``sources/fixture_fetchers.py``:

* issues: offset pages ``{"startAt", "maxResults", "total", "issues"}``,
  fetched in parallel on executors by ``offset_scan_parallel``;
* worklogs: cursor pages ``{"results", "metadata": {"next"}}``. After the
  first page, ``UPDATE_SHARE`` of each page's records re-send a key of
  an earlier page with a new ``timeSpentSeconds`` and ``updatedAt``;
* users: one bare JSON list.

Every record is a pure function of (seed, endpoint, index), so the
emulator pickles small and executors regenerate the same pages.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

STATUS = [("new", "To Do"), ("indeterminate", "In Progress"), ("done", "Done")]
PRIORITY = ["Highest", "High", "Medium", "Low", "Lowest"]
LABELS = ["backend", "frontend", "infra", "data", "ops", "security"]
UPDATE_SHARE = 0.57  # worklog records on later pages that update an earlier key


@dataclass(frozen=True)
class Sizes:
    issue_pages: int
    issues_per_page: int
    worklog_pages: int
    worklogs_per_page: int
    users: int

    @property
    def issues(self) -> int:
        return self.issue_pages * self.issues_per_page


def _rng(seed: int, *parts) -> random.Random:
    return random.Random(":".join(str(p) for p in (seed, *parts)))


def _person(i: int) -> dict:
    return {
        "self": f"https://jira/user/{i}",
        "accountId": f"acct-{i:05d}",
        "displayName": f"User {i}",
        "active": i % 7 != 0,
        "timeZone": "UTC",
        "accountType": "atlassian",
    }


def issue_record(seed: int, sizes: Sizes, i: int) -> dict:
    r = _rng(seed, "issue", i)
    category, status = STATUS[r.randrange(3)]
    spent = r.randrange(0, 200_000)
    total = spent + r.randrange(0, 100_000)
    fields = {
        "priority": {"name": PRIORITY[r.randrange(5)]},
        "labels": r.sample(LABELS, r.randrange(0, 4)),
        "status": {
            "self": f"https://jira/status/{category}",
            "description": status,
            "name": status,
            "statusCategory": {
                "self": f"https://jira/statuscategory/{category}",
                "key": category,
                "name": status,
            },
        },
        "creator": _person(r.randrange(sizes.users)),
        "reporter": _person(r.randrange(sizes.users)),
        "progress": {
            "progress": spent,
            "total": total,
            "percent": (100 * spent) // total if total else 0,
        },
        "timespent": spent,
        "project": {
            "self": f"https://jira/project/{i % 11}",
            "id": str(10_000 + i % 11),
            "key": f"P{i % 11}",
            "name": f"Project {i % 11}",
            "projectTypeKey": "software",
        },
        "summary": f"Issue {i} " + " ".join(r.choices(LABELS, k=4)),
    }
    if category == "done":  # open issues carry no resolution
        fields["resolution"] = {
            "self": "https://jira/resolution/1",
            "id": "1",
            "description": "Work has been completed.",
            "name": "Done",
        }
    if r.random() < 0.8:  # some issues are unassigned
        fields["assignee"] = _person(r.randrange(sizes.users))
    return {
        "id": str(10_000 + i),
        "self": f"https://jira/issue/{10_000 + i}",
        "key": f"PROJ-{i}",
        "fields": fields,
    }


def worklog_page_ids(seed: int, sizes: Sizes, page: int) -> list[int]:
    """Worklog ids on cursor page ``page``: fresh ids, plus (after page
    0) ``UPDATE_SHARE`` of the page re-sending ids of earlier pages."""
    per = sizes.worklogs_per_page
    if page == 0:
        return list(range(per))
    n_upd = round(per * UPDATE_SHARE)
    fresh_base = per + (page - 1) * (per - n_upd)  # ids issued on pages < page
    earlier = _rng(seed, "wl-updates", page).sample(range(fresh_base), n_upd)
    return earlier + list(range(fresh_base, fresh_base + per - n_upd))


def worklog_record(seed: int, sizes: Sizes, wid: int, page: int) -> dict:
    r = _rng(seed, "worklog", wid, page)
    issue = r.randrange(sizes.issues)
    author = r.randrange(sizes.users)
    return {
        "self": f"https://tempo/worklogs/{wid}",
        "tempoWorklogId": wid,
        "issue": {"id": str(10_000 + issue), "self": f"https://jira/issue/{10_000 + issue}"},
        "timeSpentSeconds": 60 * r.randrange(1, 480),
        "billableSeconds": 60 * r.randrange(0, 480),
        "startDate": f"2025-{1 + wid % 12:02d}-{1 + wid % 28:02d}",
        "startTime": f"{8 + wid % 10:02d}:{wid % 60:02d}:00",
        "description": f"work item {wid}",
        "createdAt": "2025-01-02T09:00:00Z",
        "updatedAt": f"2025-02-{1 + page:02d}T10:00:00Z",
        "author": {"accountId": f"acct-{author:05d}", "self": f"https://jira/user/{author}"},
    }


def user_record(i: int) -> dict:
    return {
        "self": f"https://jira/user/{i}",
        "accountId": f"acct-{i:05d}",
        "accountType": "atlassian" if i % 9 else "app",
        "avatarUrls": {"48x48": f"https://jira/avatar/{i}"},
        "displayName": f"User {i}",
        "active": i % 7 != 0,
    }


@dataclass(frozen=True)
class IssuesEndpoint:
    seed: int
    sizes: Sizes

    def __call__(self, url: str, params: dict | None = None) -> dict:
        start = int((params or {}).get("startAt", 0))
        stride = self.sizes.issues_per_page
        stop = min(start + stride, self.sizes.issues)
        return {
            "startAt": start,
            "maxResults": stride,
            "total": self.sizes.issues,
            "issues": [issue_record(self.seed, self.sizes, i) for i in range(start, stop)],
        }


@dataclass(frozen=True)
class WorklogsEndpoint:
    seed: int
    sizes: Sizes

    def page(self, page: int) -> list[dict]:
        return [
            worklog_record(self.seed, self.sizes, wid, page)
            for wid in worklog_page_ids(self.seed, self.sizes, page)
        ]

    def __call__(self, url: str, params: dict | None = None) -> dict:
        page = int(url.rsplit("cursor=", 1)[1]) if "cursor=" in url else 0
        nxt = page + 1
        meta = (
            {"next": f"{url.split('?')[0]}?cursor={nxt}"}
            if nxt < self.sizes.worklog_pages
            else {}
        )
        return {"results": self.page(page), "metadata": meta}


@dataclass(frozen=True)
class UsersEndpoint:
    sizes: Sizes

    def __call__(self, url: str, params: dict | None = None) -> list:
        return [user_record(i) for i in range(self.sizes.users)]


def expected_tables(seed: int, sizes: Sizes) -> dict[str, dict]:
    """Last-writer-wins model of the three tables after one full run:
    {table: {key: value of the checked column}} as strings."""
    worklogs: dict[str, str] = {}
    for page in range(sizes.worklog_pages):
        for wid in worklog_page_ids(seed, sizes, page):
            rec = worklog_record(seed, sizes, wid, page)
            worklogs[str(wid)] = str(rec["timeSpentSeconds"])
    issues = {
        str(10_000 + i): str(issue_record(seed, sizes, i)["fields"]["timespent"])
        for i in range(sizes.issues)
    }
    users = {f"acct-{i:05d}": user_record(i)["displayName"] for i in range(sizes.users)}
    return {"issues": issues, "worklogs": worklogs, "users": users}


# table -> (key column, checked column) in the flattened schema
CHECKED_COLUMNS = {
    "issues": ("issue_id", "fields_timespent"),
    "worklogs": ("tempo_worklog_id", "time_spent_seconds"),
    "users": ("account_id", "display_name"),
}
