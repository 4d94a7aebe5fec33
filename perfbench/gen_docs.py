"""Seeded nested-JSON documents for the `ingest_json` workload.

Writes `n_batches` directories of one-document-per-file JSON covering the
four form families the router dispatches on (`*_bank_scrape.json`,
`*_credit_report.json`, `*_action.json`, and the combined envelope).
Array lengths are Zipf-skewed and a seeded share of files is truncated
(malformed) JSON, which the router must drop.

Every array element and every document-level record carries an integer
key, so the generator knows, per batch and per output table, how many
rows the ~22 flattened tables must receive and what their key column
sums to. Those expectations go to `<out_dir>/expected.json`.

Usage: python3 gen_docs.py <out_dir> <seed> <n_batches> <docs_per_batch>
"""
import json
import os
import sys

import numpy as np

CREDIT_ARRAYS = [
    ("Bankruptcies", "bankruptcy"), ("Trades", "trades"),
    ("CreditSummaryDetails", "credit_details"),
    ("ScoreProducts", "score_products"), ("Bankings", "bankings"),
    ("Employments", "employments"), ("Collections", "collections"),
    ("Inquiries", "inquiries"), ("Legals", "legals"),
    ("ConsumerStatements", "consumer_statements"),
    ("MiscellaneousStatements", "misc_statements"),
    ("RegisteredItems", "reg_items")]

# output table -> the integer column whose sum the check compares
KEYS = {"reccomendation_action": "doc_no", "bank_scrape_info": "doc_no",
        "misc_contact": "contact_id", "bank_account": "acct_seq",
        "transactions": "txn_id", "base_credit": "doc_no",
        "credit_summary": "doc_no", "master_table": "doc_no",
        "customer_info": "doc_no", "reccomendations": "rec_id"}
KEYS.update({t: "item_id" for _, t in CREDIT_ARRAYS})

FIRST = "Ann Bob Cara Dev Eli Fay Gus Hal Ida Jon".split()
LAST = "Lee Ng Ortiz Park Quinn Roe Shah Tran Uhl Vos".split()


class Gen:
    def __init__(self, seed):
        self.rng = np.random.default_rng(seed)
        self.next_id = 1
        self.expect = {}

    def uid(self):
        self.next_id += 1
        return self.next_id

    def skewed(self, a, cap):
        """Zipf-skewed length: mostly 0-2, occasionally up to `cap`."""
        return int(min(cap, self.rng.zipf(a) - 1))

    def money(self):
        return round(float(self.rng.uniform(-500, 5000)), 2)

    def row(self, table, key):
        rows, s = self.expect.get(table, (0, 0))
        self.expect[table] = (rows + 1, s + key)

    def contacts(self):
        out = []
        for _ in range(self.skewed(2.2, 12)):
            cid = self.uid()
            out.append({"contact_id": cid,
                        "cname": FIRST[cid % 10], "phone": f"555-{cid % 9999:04d}"})
        return out

    def accounts(self):
        out = []
        for _ in range(self.skewed(1.8, 8) + 1):
            seq = self.uid()
            stats = {"mean_closing_balance": self.money(),
                     "mean_closing_balance_30": self.money()}
            if self.rng.random() < 0.3:
                stats["future_metric"] = self.money()
            txns = []
            for _ in range(self.skewed(1.6, 60)):
                tid = self.uid()
                flags = [f"f{int(x)}" for x in
                         self.rng.integers(0, 9, self.skewed(2.0, 4))]
                txns.append({"txn_id": tid, "date": f"2019-10-{tid % 28 + 1:02d}",
                             "amount": self.money(), "flags": flags})
            out.append({"account": f"ACC{seq:08d}", "acct_seq": seq,
                        "statistics": stats, "transactions": txns})
        return out

    def expect_bank(self, doc_no, contacts, accounts):
        self.row("bank_scrape_info", doc_no)
        for c in contacts:
            self.row("misc_contact", c["contact_id"])
        for a in accounts:
            self.row("bank_account", a["acct_seq"])
            for t in a["transactions"]:
                self.row("transactions", t["txn_id"])

    def report(self, doc_no):
        r = {"Hit": bool(self.rng.random() < 0.8),
             "Names": {"FirstName": FIRST[doc_no % 10],
                       "LastName": LAST[doc_no % 7]}}
        if self.rng.random() < 0.7:
            r["OnFileDate"] = f"2015-0{doc_no % 9 + 1}-01"
        for field, _ in CREDIT_ARRAYS:
            r[field] = [{"item_id": self.uid(), "amount": self.money()}
                        for _ in range(self.skewed(2.0, 15))]
        if self.rng.random() < 0.85:
            r["CreditSummary"] = {"doc_no": doc_no,
                                  "score": int(self.rng.integers(300, 850)),
                                  "utilization": round(float(self.rng.random()), 3)}
        return r

    def expect_credit(self, doc_no, report):
        self.row("base_credit", doc_no)
        for field, table in CREDIT_ARRAYS:
            for x in report[field]:
                self.row(table, x["item_id"])
        if "CreditSummary" in report:
            self.row("credit_summary", doc_no)

    def doc(self, family, doc_no):
        """(file name, body, expectation thunk) for one document."""
        if family == "bank":
            c, a = self.contacts(), self.accounts()
            body = {"doc_no": doc_no, "name": f"{FIRST[doc_no % 10]} {LAST[doc_no % 7]}",
                    "complete_datetime": f"2019-10-03 14:{doc_no % 60:02d}:15",
                    "institution": f"Bank {doc_no % 13}",
                    "contacts": c, "accounts": a}
            return (f"SF{doc_no}_bank_scrape.json", body,
                    lambda: self.expect_bank(doc_no, c, a))
        if family == "credit":
            r = self.report(doc_no)
            body = {"doc_no": doc_no, "Date": f"201910{doc_no % 28 + 1:02d}",
                    "Time": f"14{doc_no % 60:02d}15", "MemberCode": f"MBR{doc_no}",
                    "product": "basic" if doc_no % 2 else "plus",
                    "TU_FFR_Report": [r]}
            return (f"SF{doc_no}_credit_report.json", body,
                    lambda: self.expect_credit(doc_no, r))
        if family == "action":
            body = {"doc_no": doc_no, "action": ["call", "mail", "wait"][doc_no % 3],
                    "priority": ["high", "low"][doc_no % 2],
                    "CreatedOnDate": f"2019-10-{doc_no % 28 + 1:02d}"}
            return (f"SF{doc_no}_action.json", body,
                    lambda: self.row("reccomendation_action", doc_no))
        body = {"doc_no": doc_no, "SalesforceID": f"SF{doc_no}",
                "CreatedOnDate": f"2019-10-{doc_no % 28 + 1:02d}"}
        parts = []
        if self.rng.random() < 0.8:
            body["CustomerInformation"] = {
                "doc_no": doc_no, "FirstName": FIRST[doc_no % 10],
                "LastName": LAST[doc_no % 7], "age": int(20 + doc_no % 60)}
            parts.append(lambda: self.row("customer_info", doc_no))
        if self.rng.random() < 0.7:
            c, a = self.contacts(), self.accounts()
            body["BankScrapeData"] = {"doc_no": doc_no, "name": f"{FIRST[doc_no % 10]} B.",
                                      "institution": f"Bank {doc_no % 11}",
                                      "contacts": c, "accounts": a}
            parts.append(lambda: self.expect_bank(doc_no, c, a))
        if self.rng.random() < 0.7:
            r = self.report(doc_no)
            body["CreditReportData"] = {"doc_no": doc_no, "MemberCode": f"MBR{doc_no}",
                                        "TU_FFR_Report": [r]}
            parts.append(lambda: self.expect_credit(doc_no, r))
        recs = [{"rec_id": self.uid(), "rec": ["approve", "review", "deny"][i % 3],
                 "score": round(float(self.rng.random()), 3)}
                for i in range(self.skewed(1.8, 10))]
        body["Recommendations"] = recs

        def expect():
            self.row("master_table", doc_no)
            for p in parts:
                p()
            for x in recs:
                self.row("reccomendations", x["rec_id"])
        return f"doc_{doc_no}.json", body, expect


def main(out_dir, seed, n_batches, per_batch, malformed=0.03):
    g = Gen(int(seed))
    families = ["bank", "credit", "action", "combined"]
    batches = []
    doc_no = 0
    for b in range(int(n_batches)):
        bdir = os.path.join(out_dir, f"batch_{b:02d}")
        os.makedirs(bdir, exist_ok=True)
        g.expect = {}
        n_bytes = n_bad = 0
        for fam in g.rng.choice(families, int(per_batch), p=[0.2, 0.2, 0.1, 0.5]):
            doc_no += 1
            name, body, expect = g.doc(str(fam), doc_no)
            text = json.dumps(body, indent=1)
            if g.rng.random() < malformed:
                text = text[: len(text) // 2]  # truncated: unparseable
                n_bad += 1
            else:
                expect()
            with open(os.path.join(bdir, name), "w") as f:
                f.write(text)
            n_bytes += len(text.encode())
        batches.append({"dir": bdir, "docs": int(per_batch), "malformed": n_bad,
                        "json_bytes": n_bytes,
                        "tables": {t: {"rows": r, "key_sum": s}
                                   for t, (r, s) in sorted(g.expect.items())}})
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump({"keys": KEYS, "batches": batches}, f, indent=1)


if __name__ == "__main__":
    main(*sys.argv[1:5])
