"""Jira entity declarations: MAPPING dicts + flat output schemas.

The reference declares each entity twice — a MAPPING dict in the
processor and a SQL DDL in the DAG — and warns they must be kept in
sync by hand (``/root/reference/dags/jira/jira_base_processor.py:11``).
Here the MAPPING dict is the single source of truth: the flatten plan
(operators/mapping.py) and the flat schema are both derived from it.

MAPPINGs mirror the reference's exactly:

* worklogs — ``worklog_processor.py:16-34`` (14 DDL columns at
  ``fetch_jira_tempo_worklogs.py:77-94``)
* issues   — ``issue_processor.py:16-81`` (45 DDL columns at
  ``fetch_jira_issues.py:69-116``)
* users    — ``users_processor.py:13-22`` (7 DDL columns at
  ``fetch_jira_users.py:72-82``)

TIME-of-day note (SURVEY.md §1.3): the worklogs DDL has a TIME column
(``start_time``); Spark has no TIME type, so the canonical form is the
``'HH:mm:ss'`` string the API delivers — documented divergence.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Nested key -> flat name (str) or nested mapping (dict). Flat names
# follow the reference's prefixing rule: raw parent keys joined by '_',
# leaf renamed per mapping (jira_base_processor.py:94-104).

WORKLOG_MAPPING: dict = {
    "self": "url",
    "tempoWorklogId": "tempo_worklog_id",
    "issue": {
        "id": "id",  # -> issue_id
        "self": "url",  # -> issue_url
    },
    "timeSpentSeconds": "time_spent_seconds",
    "billableSeconds": "billable_seconds",
    "startDate": "start_date",
    "startTime": "start_time",
    "description": "description",
    "createdAt": "created_at",
    "updatedAt": "updated_at",
    "author": {
        "accountId": "id",  # -> author_id
        "self": "url",  # -> author_url
    },
}

USER_MAPPING: dict = {
    "self": "url",
    "accountId": "account_id",
    "accountType": "account_type",
    "avatarUrls": {
        "48x48": "avatar_url",  # -> avatarurls_avatar_url
    },
    "displayName": "display_name",
    "active": "active",
}

# List-valued issue leaves: from_json must read them as arrays for the
# reference's '//' join (A7) — under the StringType default a JSON
# array would land as its raw text (mapping.mapping_to_schema).
ISSUE_LEAF_TYPES: dict[str, T.DataType] = {
    "fields_labels": T.ArrayType(T.StringType()),
}

ISSUE_MAPPING: dict = {
    "id": "issue_id",
    "self": "issue_url",
    "key": "issue_key",
    "fields": {
        "resolution": {
            "self": "url",
            "id": "id",
            "description": "description",
            "name": "name",
        },
        "priority": {
            "name": "name",
        },
        "labels": "labels",  # JSON array -> '//'-joined string (A7)
        "assignee": {
            "self": "url",
            "accountId": "account_id",
            "displayName": "displayname",
            "active": "active",
            "timeZone": "timezone",
            "accountType": "accounttype",
        },
        "status": {
            "self": "url",
            "description": "description",
            "name": "name",
            "statusCategory": {
                "self": "url",
                "key": "key",
                "name": "name",
            },
        },
        "creator": {
            "self": "url",
            "accountId": "account_id",
            "displayName": "displayname",
            "active": "active",
            "timeZone": "timezone",
            "accountType": "accounttype",
        },
        "reporter": {
            "self": "url",
            "accountId": "account_id",
            "displayName": "displayname",
            "active": "active",
            "timeZone": "timezone",
            "accountType": "accounttype",
        },
        "progress": {
            "progress": "progress",
            "total": "total",
            "percent": "percent",
        },
        "timespent": "timespent",
        "project": {
            "self": "url",
            "id": "id",
            "key": "key",
            "name": "name",
            "projectTypeKey": "projecttypekey",
        },
        "summary": "summary",
    },
}
