"""Deterministic in-process API emulators for the paged REST scans.

These stand in for the live Jira/Tempo endpoints (no HTTP stack in
this environment) and mirror the offset-page response shape the
reference consumes (``issue_processor.py:141,153,164``):
``{"startAt": N, "maxResults": M, "total": T, "issues": [...]}``.

Records are derived deterministically from (offset, params) so tests
can assert exact results, including server-side filtering — the
behavior the reference delegates via API query params
(``fetch_jira_tempo_worklogs.py:60-63``).
"""

from __future__ import annotations

TOTAL = 137
STRIDE = 25
PRIORITIES = ("high", "low")


def _record(i: int) -> dict:
    return {
        "id": str(i),
        "self": f"https://api/issue/{i}",
        "key": f"PROJ-{i}",
        "priority": PRIORITIES[i % 2],
        "project_id": str(100 + i % 3),
    }


def synthetic_issues_fetcher(options: dict):
    """Factory: (options) -> fetcher(url, params) for a synthetic
    offset-paginated issues endpoint with server-side equality filters
    on ``priority`` and ``project_id``."""

    def fetch(url: str, params: dict | None = None) -> dict:
        params = params or {}
        start = int(params.get("startAt", 0))
        records = [_record(i) for i in range(TOTAL)]
        # server-side filter delegation: the scans forward these as
        # API query params
        for col in ("priority", "project_id"):
            if col in params:
                records = [r for r in records if r[col] == params[col]]
        page = records[start : start + STRIDE]
        return {
            "startAt": start,
            "maxResults": STRIDE,
            "total": len(records),
            "issues": page,
        }

    return fetch


SINGLE_PAGE_N = 7


def totalless_fetcher(options: dict):
    """Factory: an endpoint that reports NO ``total`` (the A4
    single-page shape) — all records live in page 0, later offsets
    return empty pages. The offset scan must return page 0, never zero
    rows."""

    def fetch(url: str, params: dict | None = None) -> dict:
        start = int((params or {}).get("startAt", 0))
        records = (
            [_record(i) for i in range(SINGLE_PAGE_N)] if start == 0 else []
        )
        return {"startAt": start, "maxResults": STRIDE, "issues": records}

    return fetch


def synthetic_users_fetcher(options: dict):
    """Factory: the A4 single-page users endpoint — a bare JSON LIST
    (``users_processor.py:71``), shaped for USER_MAPPING. The users
    pipeline's default emulator (the issues-shaped default used to make
    ``--entity=users`` crash out of the box)."""

    def fetch(url: str, params: dict | None = None) -> list:
        return [
            {
                "self": f"https://api/user/{i}",
                "accountId": f"acct-{i:03d}",
                "accountType": "atlassian",
                "avatarUrls": {"48x48": f"https://api/avatar/{i}"},
                "displayName": f"User {i}",
                "active": i % 2 == 0,
            }
            for i in range(9)
        ]

    return fetch


WORKLOG_TOTAL = 25
WORKLOG_PAGE = 10


def synthetic_worklogs_fetcher(options: dict):
    """Factory: the A2 cursor-paginated worklogs endpoint —
    ``{"results": [...], "metadata": {"next": url?}}`` pages
    (``worklog_processor.py:80-108``), shaped for WORKLOG_MAPPING. The
    cursor rides in the next-URL; the final page omits it."""

    def fetch(url: str, params: dict | None = None) -> dict:
        start = int(url.rsplit("cursor=", 1)[1]) if "cursor=" in url else 0
        recs = [
            {
                "self": f"https://api/worklog/{i}",
                "tempoWorklogId": i,
                "issue": {
                    "id": str(100 + i % 7),
                    "self": f"https://api/issue/{100 + i % 7}",
                },
                "timeSpentSeconds": 900 * (i % 8 + 1),
                "billableSeconds": 900 * (i % 4),
                "startDate": "2025-01-02",
                "startTime": "09:00:00",
                "description": f"work {i}",
                "createdAt": "2025-01-02T09:00:00Z",
                "updatedAt": "2025-01-02T10:00:00Z",
                "author": {
                    "accountId": f"acct-{i % 5:03d}",
                    "self": f"https://api/user/{i % 5}",
                },
            }
            for i in range(start, min(start + WORKLOG_PAGE, WORKLOG_TOTAL))
        ]
        nxt = start + WORKLOG_PAGE
        meta = (
            {"next": f"{url.split('?')[0]}?cursor={nxt}"}
            if nxt < WORKLOG_TOTAL
            else {}
        )
        return {"results": recs, "metadata": meta}

    return fetch
