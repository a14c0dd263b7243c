"""tools/check_oracle.py as a gate: the verdict lines with their wall
times, the summary line, the slowest-queries list and the exit status.
python3 -m unittest discover -s tools -p 'test_*.py'"""
import json
import re
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

SCRIPT = Path(__file__).resolve().parent / 'check_oracle.py'
TIMED = re.compile(r'^(.*) \[(\d+\.\d\d) s\]$')
SLOW = re.compile(r'^ +(\d+\.\d\d) s  (\S+)$')


def split(stdout):
    """(verdict lines without their times, {query: secs}, summary line,
    slowest list as [(query, secs)]) of one run's stdout."""
    lines = stdout.splitlines()
    at = next(i for i, line in enumerate(lines) if re.fullmatch(r'\d+/\d+ OK', line))
    verdicts, secs = [], {}
    for line in lines[:at]:
        m = TIMED.match(line)
        assert m, f'verdict line without a wall time: {line!r}'
        verdicts.append(m.group(1))
        secs[m.group(1).split(':')[0]] = float(m.group(2))
    assert lines[at + 1] == f'slowest {len(lines) - at - 2}:', stdout
    slowest = [(m.group(2), float(m.group(1))) for m in map(SLOW.match, lines[at + 2:])]
    return verdicts, secs, lines[at], slowest


def write(path, table):
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, str(path))


class CheckOracleTest(unittest.TestCase):
    def run_check(self, oracle, outputs):
        """Runs the script over a tiny sf dir (one documents table) and a
        Verify-shaped output dir; returns (exit status, stdout)."""
        with tempfile.TemporaryDirectory() as d:
            sf, out = Path(d) / 'sf', Path(d) / 'out'
            write(sf / 'documents.parquet', pa.table({'doc_id': [1, 2, 3]}))
            out.mkdir()
            for name, table in outputs.items():
                write(out / name / 'part-00000.parquet', table)
            (out / 'oracle_sql.json').write_text(json.dumps(oracle))
            r = subprocess.run([sys.executable, '-B', str(SCRIPT), str(sf), str(out)],
                               capture_output=True, text=True, timeout=120)
            return r.returncode, r.stdout

    def test_a_mismatch_fails_the_run(self):
        code, stdout = self.run_check(
            {'q_good': 'SELECT doc_id FROM documents',
             'q_bad': 'SELECT doc_id + 1 AS doc_id FROM documents'},
            {'q_good': pa.table({'doc_id': [3, 1, 2]}),
             'q_bad': pa.table({'doc_id': [1, 2, 3]})})
        lines, _, summary, _ = split(stdout)
        self.assertIn('q_good: OK (3 rows)', lines)
        self.assertTrue(any(line.startswith('q_bad: VALUE MISMATCH') for line in lines), stdout)
        self.assertEqual(summary, '1/2 OK')
        self.assertNotEqual(code, 0)

    def test_a_missing_output_fails_the_run(self):
        code, stdout = self.run_check({'q_gone': 'SELECT doc_id FROM documents'}, {})
        lines, _, summary, slowest = split(stdout)
        self.assertEqual((lines, summary), (['q_gone: NO SPARK OUTPUT'], '0/1 OK'))
        self.assertEqual([n for n, _ in slowest], ['q_gone'])
        self.assertNotEqual(code, 0)

    def test_all_ok_passes(self):
        code, stdout = self.run_check(
            {'q_good': 'SELECT doc_id FROM documents'},
            {'q_good': pa.table({'doc_id': [2, 3, 1]})})
        lines, _, summary, _ = split(stdout)
        self.assertEqual((lines, summary), (['q_good: OK (3 rows)'], '1/1 OK'))
        self.assertEqual(code, 0)

    def test_the_five_slowest_queries_follow_the_summary(self):
        # q_slow's oracle sums 300M rows, the others read three
        oracle = {f'q_{i}': 'SELECT doc_id FROM documents' for i in range(6)}
        oracle['q_slow'] = ('SELECT doc_id FROM documents, '
                            '(SELECT sum(i) AS s FROM range(300000000) t(i)) WHERE s > 0')
        code, stdout = self.run_check(oracle, {n: pa.table({'doc_id': [1, 2, 3]}) for n in oracle})
        lines, secs, summary, slowest = split(stdout)
        self.assertEqual(summary, '7/7 OK')
        self.assertEqual(len(lines), 7)
        self.assertEqual(len(slowest), 5)
        self.assertEqual(slowest[0][0], 'q_slow', stdout)
        self.assertEqual([t for _, t in slowest], sorted((t for _, t in slowest), reverse=True))
        self.assertEqual(dict(slowest), {n: secs[n] for n, _ in slowest})
        self.assertEqual(code, 0)


if __name__ == '__main__':
    unittest.main()
