"""Report builder + sinks (reference S9-S11, A5).

The reference shapes a nested dict and writes JSON/CSV/Markdown
(/root/reference/break_checker.py:1569-1691, results dict 1798-1816).
Here the heavy aggregation happens in Spark; only the final small
report rows are collected driver-side (the reference's report is
small by construction: deduped contacts + hosts + counters). Hosts,
the endpoint count and the drop totals come from the
:class:`~.crawl.CrawlResult` the crawl already computed; the report
itself only collects the contacts.

Large-scale variant: pass ``sink_path`` to also write the full contact
table as parquet/json directly from executors (no driver collect).
"""

from __future__ import annotations

import csv
import io
import json
from typing import Optional

from pyspark.sql import DataFrame

from .crawl import CrawlResult


def build_report(
    domain: str,
    crawl: CrawlResult,
    contacts_with_breaches: DataFrame,
    scan_start: Optional[str] = None,
    scan_end: Optional[str] = None,
    scan_duration: Optional[float] = None,
) -> dict:
    """Nested report dict (reference shape, sorted for determinism:
    emails by address, phones by number, subdomains sorted —
    break_checker.py:1601-1630; top-level scan_domain/scan_start/
    scan_end/scan_duration keys per break_checker.py:1614-1622,
    timestamps formatted '%Y-%m-%d %H:%M:%S %Z' UTC per bc:1810-1816).

    ``crawl`` supplies the sorted host list, the endpoint count and the
    drop totals its run already computed; the summary counts the
    contact rows collected here."""
    rows = contacts_with_breaches.orderBy("kind", "identifier").collect()
    emails = [
        {
            "email": r["identifier"],
            "source": r["source_url"],
            "breaches": list(r["breaches"] or []),
        }
        for r in rows
        if r["kind"] == "email"
    ]
    phones = [
        {
            "phone": r["identifier"],
            "source": r["source_url"],
            "breaches": list(r["breaches"] or []),
        }
        for r in rows
        if r["kind"] == "phone"
    ]
    # key order mirrors the reference's summary dict insertion order
    # (break_checker.py:1613-1622) — CSV/markdown render it as-is
    summary = {
        "num_subdomains": len(crawl.subdomains),
        "num_endpoints": crawl.summary["num_endpoints"],
        "num_emails": len(emails),
        "num_phones": len(phones),
        "num_breached_emails": sum(1 for e in emails if e["breaches"]),
        "num_breached_phones": sum(1 for p in phones if p["breaches"]),
        "emails_dropped": crawl.summary["emails_dropped"],
        "phones_dropped": crawl.summary["phones_dropped"],
    }
    return {
        "scan_domain": domain,
        "scan_start": scan_start,
        "scan_end": scan_end,
        "scan_duration": scan_duration,
        "summary": summary,
        "subdomains": crawl.subdomains,
        "emails": emails,
        "phones": phones,
    }


def to_json(report: dict) -> str:
    return json.dumps(report, indent=2, sort_keys=True)


def to_csv(report: dict) -> str:
    """Sectioned CSV: scan timing prelude, summary rows, then
    type,value,source,breaches rows (reference break_checker.py:
    1643-1662 — timing rows first, blank-line separators, breaches
    joined with ', ')."""
    buf = io.StringIO()
    w = csv.writer(buf)
    w.writerow(["scan_start", report.get("scan_start")])
    w.writerow(["scan_end", report.get("scan_end")])
    w.writerow(["scan_duration", report.get("scan_duration")])
    w.writerow([])
    for k, v in report["summary"].items():
        w.writerow([k, v])
    w.writerow([])
    w.writerow(["type", "value", "source", "breaches"])
    for sub in report["subdomains"]:
        w.writerow(["subdomain", sub, "", ""])
    for e in report["emails"]:
        w.writerow(["email", e["email"], e["source"], ", ".join(e["breaches"])])
    for p in report["phones"]:
        w.writerow(["phone", p["phone"], p["source"], ", ".join(p["breaches"])])
    return buf.getvalue()


def to_markdown(report: dict) -> str:
    """Markdown tables (reference break_checker.py:1663-1691)."""
    lines = [
        f"# Scan report — {report['scan_domain']}",
        "",
        f"Start: {report.get('scan_start')}",
        f"End: {report.get('scan_end')}",
        f"Duration: {report.get('scan_duration')}",
        "",
        "## Summary",
        "",
    ]
    lines += ["| metric | value |", "|---|---|"]
    for k, v in report["summary"].items():
        lines.append(f"| {k} | {v} |")
    lines += ["", "## Subdomains", ""]
    lines += [f"- {s}" for s in report["subdomains"]]
    for kind, key in (("emails", "email"), ("phones", "phone")):
        lines += ["", f"## {kind.title()}", "", "| value | source | breaches |", "|---|---|---|"]
        for row in report[kind]:
            lines.append(
                f"| {row[key]} | {row['source']} | {', '.join(row['breaches'])} |"
            )
    return "\n".join(lines) + "\n"


def save(report: dict, path: str, fmt: str = "json") -> str:
    renderers = {"json": to_json, "csv": to_csv, "md": to_markdown}
    with open(path, "w") as fh:
        fh.write(renderers[fmt](report))
    return path


def write_contacts_sink(
    contacts: DataFrame, path: str, fmt: str = "parquet", partitions: Optional[int] = None
) -> None:
    """Executor-side sink for the full contact table (100 TB path)."""
    df = contacts if partitions is None else contacts.coalesce(partitions)
    df.write.mode("overwrite").format(fmt).save(path)
