"""Alert transports (SURVEY §2.E `sns_alert_sink`).

The reference publishes drift/score alerts to an SNS topic with a retry
policy (churn_prediction_pipeline.py:755-767; the two composers at
:700-714 and :724-752). The engine keeps alerting a pluggable
``AlertSink`` callback (plans/pipeline.py) and ships real stdlib
transports behind it:

- ``webhook_alert_sink`` — HTTP POST of a JSON payload (the
  SNS-topic/Slack/PagerDuty-shaped integration; urllib, no deps),
- ``smtp_alert_sink``   — email via ``smtplib`` (the email-subscription
  leg of the reference's SNS topic),
- ``file_alert_sink``   — append-to-log fallback for air-gapped runs,
- ``retrying``          — the reference's ``retries=3, delay=5s`` task
  policy as a sink decorator.

All transports take (subject, message) — exactly the reference's
``send_sns_alert`` contract — so swapping transports never touches
pipeline code. ``compose_drift_alert`` and ``compose_scores_alert``
reproduce the reference's two message texts for callers that want
them; ``plans/pipeline.monitoring_run`` does not use them and sends its
own shorter subjects ("Data drift detected", "Prediction scores below
threshold"), and the monitor sends "Invalid input file".
"""

from __future__ import annotations

import json
import time
import urllib.request
from typing import Callable

AlertSink = Callable[[str, str], None]


def compose_drift_alert(
    n_drifted: int, drifted_columns: list[str], batch_name: str = "batch"
) -> tuple[str, str]:
    """The reference's drift-alert text (churn_prediction_pipeline.py:700-714)."""
    subject = f"Customer Data Drift Alert: {n_drifted} Column(s) Drifted"
    message = (
        "Majority of columns drifted from reference data in the latest run.\n\n"
        f"Filename: {batch_name}.\n\n"
        f"{n_drifted} Column(s) Drifted:\n"
        + "".join(f"- {c}\n" for c in drifted_columns)
    )
    return subject, message


def compose_scores_alert(
    failing: list[tuple[str, float]], batch_name: str = "batch"
) -> tuple[str, str]:
    """The reference's low-score alert text (churn_prediction_pipeline.py:724-752)."""
    subject = (
        f"Customer Prediction Scores Alert: {len(failing)} "
        "Score(s) Below Threshold"
    )
    message = (
        "Predictions scored below threshold in the latest run.\n\n"
        f"Filename: {batch_name}.\n\n"
        f"{len(failing)} Score(s) Below Threshold:\n"
        + "".join(f"- {name}: {value:.3f}\n" for name, value in failing)
    )
    return subject, message


def webhook_alert_sink(
    url: str, timeout_s: float = 10.0, headers: dict[str, str] | None = None
) -> AlertSink:
    """HTTP-POST transport: JSON ``{"subject", "message"}`` to ``url``.
    This is the shape an SNS HTTPS subscription / Slack incoming webhook
    / PagerDuty events endpoint consumes."""

    def sink(subject: str, message: str) -> None:
        body = json.dumps({"subject": subject, "message": message}).encode()
        req = urllib.request.Request(
            url,
            data=body,
            headers={"Content-Type": "application/json", **(headers or {})},
            method="POST",
        )
        # urlopen raises HTTPError for any >= 400 status — no manual
        # status check needed; the context manager just drains the body.
        with urllib.request.urlopen(req, timeout=timeout_s):
            pass

    return sink


def smtp_alert_sink(
    host: str,
    sender: str,
    recipients: list[str],
    port: int = 25,
    subject_prefix: str = "\N{POLICE CARS REVOLVING LIGHT} ",
) -> AlertSink:
    """SMTP transport — the email-subscription leg of the reference's SNS
    topic (same ``🚨``-prefixed subject, :766)."""

    def sink(subject: str, message: str) -> None:
        import smtplib
        from email.message import EmailMessage

        msg = EmailMessage()
        msg["Subject"] = f"{subject_prefix}{subject}"
        msg["From"] = sender
        msg["To"] = ", ".join(recipients)
        msg.set_content(message)
        with smtplib.SMTP(host, port, timeout=30) as s:
            s.send_message(msg)

    return sink


def file_alert_sink(path: str) -> AlertSink:
    """Append-to-log transport (one JSON line per alert) — durable local
    fallback mirroring sources/lifecycle.py's append-log sink."""

    def sink(subject: str, message: str) -> None:
        with open(path, "a", encoding="utf-8") as f:
            f.write(
                json.dumps({"subject": subject, "message": message}) + "\n"
            )

    return sink


def retrying(
    sink: AlertSink, retries: int = 3, delay_s: float = 5.0
) -> AlertSink:
    """The reference's task retry policy (``retries=3,
    retry_delay_seconds=5``, churn_prediction_pipeline.py:755) as a sink
    decorator. Alerts are side-effects: the LAST failure propagates so a
    dead transport is never silent."""

    def wrapped(subject: str, message: str) -> None:
        for attempt in range(retries + 1):
            try:
                sink(subject, message)
                return
            except Exception:
                if attempt == retries:
                    raise
                time.sleep(delay_s)

    return wrapped
