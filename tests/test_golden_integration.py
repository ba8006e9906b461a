"""Golden integration suite — ports the reference's tier-2/3 tests
(SURVEY §5: example_test.go golden outputs + filesql_integration_test.go
company-dataset queries) onto a deterministic mini company fixture, run
through the engine's SQLite-dialect front door with exact-value asserts.
"""

from __future__ import annotations

import pytest

import filesql_spark as fs

USERS = """id,name,email,age,department_id
1,Alice,alice@x.com,34,1
2,Bob,bob@x.com,28,1
3,Carol,carol@x.com,41,2
4,Dave,dave@x.com,23,2
5,Eve,eve@x.com,37,2
6,Frank,frank@x.com,52,3
7,Grace,,29,3
"""

DEPARTMENTS = """id,name,location
1,Engineering,Tokyo
2,Sales,Osaka
3,Marketing,
"""

ORDERS = """id,user_id,amount,status,created_at
1,1,120.5,delivered,2023-01-05 10:00:00
2,1,80.25,pending,2023-02-10 11:30:00
3,2,200.0,shipped,2023-01-15 09:00:00
4,3,50.75,delivered,2023-03-01 14:00:00
5,3,300.0,delivered,2023-03-20 16:45:00
6,5,10.0,pending,2023-04-02 08:15:00
7,6,99.99,shipped,2023-04-11 12:00:00
"""

SALARIES = """id,user_id,base_salary,bonus
1,1,900000,50000.5
2,2,650000,
3,3,800000,30000.0
4,4,500000,
5,5,700000,20000.25
6,6,950000,60000.0
7,7,600000,
"""


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("company")
    (d / "user.csv").write_text(USERS)
    (d / "department.csv").write_text(DEPARTMENTS)
    (d / "orders.csv").write_text(ORDERS)
    (d / "salary.csv").write_text(SALARIES)
    e = fs.open(str(d), spark=spark)  # directory load (A1 walker)
    yield e
    e.close()


def test_inferred_schema(eng):
    # age INTEGER, bonus REAL w/ empties, created_at DATETIME-as-TEXT
    info = {r.name: r.type for r in eng.query("PRAGMA table_info(user)").collect()}
    assert info == {
        "id": "INTEGER",
        "name": "TEXT",
        "email": "TEXT",
        "age": "INTEGER",
        "department_id": "INTEGER",
    }
    sal = {r.name: r.type for r in eng.query("PRAGMA table_info(salary)").collect()}
    assert sal["bonus"] == "REAL" and sal["base_salary"] == "INTEGER"
    ords = {r.name: r.type for r in eng.query("PRAGMA table_info(orders)").collect()}
    assert ords["created_at"] == "TEXT"  # datetime stored as TEXT (parity)


def test_multiway_join_with_counts(eng):
    # filesql_integration_test.go:80-109 shape
    rows = eng.query(
        """
        SELECT d.name AS dept, COUNT(u.id) AS n_users
        FROM department d
        LEFT JOIN "user" u ON u.department_id = d.id
        GROUP BY d.name
        ORDER BY d.name
        """
    ).collect()
    assert [(r.dept, r.n_users) for r in rows] == [
        ("Engineering", 2),
        ("Marketing", 2),
        ("Sales", 3),
    ]


def test_having_topk(eng):
    # filesql_integration_test.go:167-200 shape: HAVING + ORDER BY + LIMIT
    rows = eng.query(
        """
        SELECT u.name AS name, COUNT(o.id) AS n, ROUND(SUM(o.amount), 2) AS total
        FROM "user" u JOIN orders o ON o.user_id = u.id
        GROUP BY u.name
        HAVING COUNT(o.id) >= 2
        ORDER BY total DESC
        LIMIT 2
        """
    ).collect()
    assert [(r.name, r.n, r.total) for r in rows] == [
        ("Carol", 2, 350.75),
        ("Alice", 2, 200.75),
    ]


def test_conditional_aggregation(eng):
    # SUM(CASE WHEN …) — filesql_integration_test.go:409,443-445
    (row,) = eng.query(
        """
        SELECT SUM(CASE WHEN status = 'delivered' THEN 1 ELSE 0 END) AS delivered,
               SUM(CASE WHEN status = 'pending' THEN 1 ELSE 0 END) AS pending,
               COUNT(DISTINCT user_id) AS buyers
        FROM orders
        """
    ).collect()
    assert (row.delivered, row.pending, row.buyers) == (3, 2, 5)


def test_coalesce_cast_bonus(eng):
    # COALESCE(CAST(bonus AS REAL), 0) — filesql_integration_test.go:228
    (row,) = eng.query(
        """
        SELECT ROUND(SUM(COALESCE(CAST(bonus AS REAL), 0)), 2) AS total_bonus
        FROM salary
        """
    ).collect()
    assert row.total_bonus == 160000.75


def test_exists_subquery(eng):
    # filesql_integration_test.go:458-474
    rows = eng.query(
        """
        SELECT name FROM "user" u
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.user_id = u.id AND o.amount > 100)
        ORDER BY name
        """
    ).collect()
    assert [r.name for r in rows] == ["Alice", "Bob", "Carol"]


def test_theta_selfjoin_rank_emulation(eng):
    # filesql_integration_test.go:535-553: salary rank without window funcs
    rows = eng.query(
        """
        SELECT s1.user_id AS user_id, COUNT(s2.user_id) AS n_higher
        FROM salary s1
        LEFT JOIN salary s2 ON s2.base_salary > s1.base_salary
        GROUP BY s1.user_id
        ORDER BY n_higher, user_id
        LIMIT 3
        """
    ).collect()
    assert [(r.user_id, r.n_higher) for r in rows] == [(6, 0), (1, 1), (3, 2)]


def test_union_all_tagging(eng):
    # filesql_integration_test.go:493-532
    rows = eng.query(
        """
        SELECT 'big' AS tag, id FROM orders WHERE amount > 150
        UNION ALL
        SELECT 'tiny' AS tag, id FROM orders WHERE amount < 20
        ORDER BY tag, id
        """
    ).collect()
    assert [(r.tag, r.id) for r in rows] == [("big", 3), ("big", 5), ("tiny", 6)]


def test_window_and_cte_report(eng):
    # example_test.go:777-891: dept-vs-company average + RANK golden output
    rows = eng.query(
        """
        WITH dept_avg AS (
            SELECT d.name AS dept, AVG(s.base_salary) AS avg_sal
            FROM salary s
            JOIN "user" u ON u.id = s.user_id
            JOIN department d ON d.id = u.department_id
            GROUP BY d.name
        ),
        company AS (SELECT AVG(base_salary) AS overall FROM salary)
        SELECT dept, ROUND(avg_sal, 2) AS avg_sal,
               ROUND(avg_sal - c.overall, 2) AS vs_company
        FROM dept_avg CROSS JOIN company c
        ORDER BY dept
        """
    ).collect()
    # company avg = 5,100,000/7 = 728,571.43
    assert [(r.dept, r.avg_sal, r.vs_company) for r in rows] == [
        ("Engineering", 775000.0, 46428.57),
        ("Marketing", 775000.0, 46428.57),
        ("Sales", 666666.67, -61904.76),
    ]


def test_rank_window_golden(eng):
    rows = eng.query(
        """
        SELECT u.name AS name,
               RANK() OVER (ORDER BY s.base_salary DESC) AS sal_rank
        FROM salary s JOIN "user" u ON u.id = s.user_id
        ORDER BY sal_rank, name
        LIMIT 3
        """
    ).collect()
    assert [(r.name, r.sal_rank) for r in rows] == [
        ("Frank", 1),
        ("Alice", 2),
        ("Carol", 3),
    ]


def test_strftime_monthly_rollup(eng):
    # example_test.go:1137: strftime('%Y-%m') monthly aggregation
    rows = eng.query(
        """
        SELECT strftime('%Y-%m', created_at) AS month,
               COUNT(*) AS n, ROUND(SUM(amount), 2) AS total
        FROM orders GROUP BY month ORDER BY month
        """
    ).collect()
    assert [(r.month, r.n, r.total) for r in rows] == [
        ("2023-01", 2, 320.5),
        ("2023-02", 1, 80.25),
        ("2023-03", 2, 350.75),
        ("2023-04", 2, 109.99),
    ]


def test_datetime_modifiers_through_engine(eng):
    # SQLite core modifiers (doc.go:68-77 delegates the whole dialect):
    # billing-style "due end of month after order" date arithmetic
    rows = eng.query(
        """
        SELECT id,
               date(created_at, 'start of month', '+1 month', '-1 day') AS due,
               date(created_at, '+30 days') AS net30
        FROM orders WHERE id <= 2 ORDER BY id
        """
    ).collect()
    assert [(r.id, r.due, r.net30) for r in rows] == [
        (1, "2023-01-31", "2023-02-04"),
        (2, "2023-02-28", "2023-03-12"),
    ]


def test_cross_query_consistency(eng):
    # filesql_integration_test.go:281-335: totals agree across formulations
    (a,) = eng.query("SELECT COUNT(*) AS n FROM orders").collect()
    (b,) = eng.query(
        "SELECT SUM(n) AS n FROM (SELECT COUNT(*) AS n FROM orders GROUP BY user_id) t"
    ).collect()
    assert a.n == b.n == 7


def test_empty_string_vs_null_divergence_documented(eng):
    # SURVEY §1.2: reference keeps '' (counted by COUNT(col)); we load NULL.
    # Grace's empty email is NULL here — COUNT(email) sees 6 of 7.
    (row,) = eng.query(
        "SELECT COUNT(*) AS n_all, COUNT(email) AS n_email FROM \"user\""
    ).collect()
    assert (row.n_all, row.n_email) == (7, 6)


def test_example_process_and_aggregate_script(spark, tmp_path):
    """Reference example_test.go:1585-1605 verbatim shapes: an UPDATE whose
    predicate uses mixed-case LIKE (SQLite: case-insensitive), then an
    INSERT ... SELECT with `||` concatenation — run as one script through
    execute_script, asserted on exact values."""
    (tmp_path / "sample.csv").write_text(
        "id,name,age,email\n"
        "1,John Doe,30,john@example.com\n"
        "2,Jane Smith,25,jane@example.com\n"
        "3,bob johnson,35,bob@example.com\n"
    )
    with fs.open(str(tmp_path / "sample.csv"), spark=spark) as eng:
        n = eng.execute_script(
            """
            UPDATE sample SET age = age + 1 WHERE name LIKE '%JOHN%';
            INSERT INTO sample (id, name, age, email)
            SELECT 999, 'Summary: ' || COUNT(*), AVG(age), 'summary@example.com'
            FROM sample WHERE id < 999;
            """
        )
        # SQLite-style LIKE matches 'John Doe' AND 'bob johnson' (ASCII
        # case-insensitive) — Spark's native LIKE would match neither
        assert n == 2 + 1
        rows = {r.id: (r.name, r.age) for r in eng.query("SELECT id, name, age FROM sample").collect()}
        assert rows[1] == ("John Doe", 31)
        assert rows[3] == ("bob johnson", 36)
        assert rows[2] == ("Jane Smith", 25)
        name999, age999 = rows[999]
        assert name999 == "Summary: 3"
        assert age999 == 30  # avg(31,25,36) = 30.67, truncated by the INTEGER-column cast


def test_json_family_through_engine(spark, tmp_path):
    """Reference README.md:331 advertises SQLite's json1 — json_extract /
    json_array_length / json_valid must run verbatim through the engine's
    SQLite-dialect front door over CSV-loaded JSON text."""
    (tmp_path / "cfg.csv").write_text(
        "id,props\n"
        '1,"{""kind"": ""a"", ""tags"": [1, 2, 3]}"\n'
        '2,"{""kind"": ""b"", ""tags"": []}"\n'
    )
    with fs.open(str(tmp_path / "cfg.csv"), spark=spark) as eng:
        rows = eng.query(
            "SELECT id, json_extract(props, '$.kind') AS kind, "
            "json_array_length(props, '$.tags') AS n_tags, "
            "json_valid(props) AS ok FROM cfg ORDER BY id"
        ).collect()
        assert [(r.id, r.kind, r.n_tags, r.ok) for r in rows] == [
            (1, "a", 3, 1),
            (2, "b", 0, 1),
        ]


def test_json_family_malformed_row_through_engine(spark, tmp_path):
    """A malformed JSON row: json_valid reads it as 0, and
    json_array_length raises 'malformed JSON' for the whole query, as
    sqlite3 does."""
    import sqlite3

    (tmp_path / "cfg.csv").write_text("id,props\n3,not json\n")
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE cfg (id INTEGER, props TEXT)")
    con.execute("INSERT INTO cfg VALUES (3, 'not json')")
    valid = "SELECT id, json_valid(props) AS ok FROM cfg"
    length = "SELECT json_array_length(props, '$.tags') AS n_tags FROM cfg"
    with fs.open(str(tmp_path / "cfg.csv"), spark=spark) as eng:
        assert [tuple(r) for r in eng.query(valid).collect()] == \
            con.execute(valid).fetchall() == [(3, 0)]
        with pytest.raises(sqlite3.OperationalError, match="malformed JSON"):
            con.execute(length).fetchall()
        with pytest.raises(Exception, match="malformed JSON"):
            eng.query(length).collect()
    con.close()


# ------------------------------------------------------------------
# ExampleOpen_webLogAnalysis (example_test.go:993-1116): the three
# analysis queries with the `// Output:` block's values as goldens.
# ------------------------------------------------------------------

ACCESS_LOGS = """timestamp,ip_address,method,path,status_code,response_time,user_agent
2024-01-01 09:15:30,192.168.1.100,GET,/,200,150,Mozilla/5.0
2024-01-01 09:30:45,192.168.1.101,GET,/products,200,200,Mozilla/5.0
2024-01-01 10:05:15,192.168.1.100,GET,/,200,120,Mozilla/5.0
2024-01-01 10:20:30,192.168.1.102,GET,/about,200,180,Mozilla/5.0
2024-01-01 10:35:45,192.168.1.101,GET,/products,200,160,Mozilla/5.0
2024-01-01 11:10:15,192.168.1.103,GET,/contact,200,140,Mozilla/5.0
2024-01-01 11:25:30,192.168.1.100,GET,/,200,200,Mozilla/5.0
2024-01-01 11:40:45,192.168.1.104,GET,/missing,404,50,Mozilla/5.0
2024-01-01 14:15:30,192.168.1.105,GET,/notfound,404,100,Mozilla/5.0
"""


@pytest.fixture(scope="module")
def weblog(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("weblog")
    (d / "access_logs.csv").write_text(ACCESS_LOGS)
    e = fs.open(str(d), spark=spark)
    yield e
    e.close()


def test_weblog_top_pages_golden(weblog):
    rows = weblog.query(
        """
        SELECT path, COUNT(*) as hits,
               COUNT(DISTINCT ip_address) as unique_visitors
        FROM access_logs WHERE status_code = 200
        GROUP BY path ORDER BY hits DESC LIMIT 5
        """
    ).collect()
    got = [(r.path, r.hits, r.unique_visitors) for r in rows]
    assert got[0] == ("/", 3, 1)
    assert got[1] == ("/products", 2, 1)
    # /contact and /about tie at 1 hit; the reference's order is the
    # arbitrary SQLite scan order — compare the tie as a set
    assert set(got[2:]) == {("/contact", 1, 1), ("/about", 1, 1)}


def test_weblog_error_analysis_golden(weblog):
    rows = weblog.query(
        """
        SELECT status_code, COUNT(*) as error_count,
               ROUND(COUNT(*) * 100.0 / (SELECT COUNT(*) FROM access_logs), 2)
                   as percentage
        FROM access_logs WHERE status_code >= 400
        GROUP BY status_code ORDER BY error_count DESC
        """
    ).collect()
    # percentage surfaces as Decimal (Spark's ROUND over an integer-div
    # expression plans decimal math); value equality is what matters
    assert [(r.status_code, r.error_count, float(r.percentage)) for r in rows] == [
        (404, 2, 22.22)
    ]


def test_weblog_hourly_traffic_golden(weblog):
    rows = weblog.query(
        """
        SELECT CAST(strftime('%H', timestamp) AS INTEGER) as hour,
               COUNT(*) as requests,
               AVG(response_time) as avg_response_time
        FROM access_logs GROUP BY hour ORDER BY hour
        """
    ).collect()
    got = [(r.hour, r.requests, round(r.avg_response_time)) for r in rows]
    assert got == [(9, 2, 175), (10, 3, 153), (11, 3, 130), (14, 1, 100)]


# ------------------------------------------------------------------
# ExampleOpen_financialDataAnalysis (example_test.go:1118-1237)
# ------------------------------------------------------------------

TRANSACTIONS = """transaction_id,transaction_date,type,category,amount,description
1,2024-01-15,sale,Product Sales,1500.00,Sale of premium product
2,2024-01-20,sale,Product Sales,850.00,Sale of standard product
3,2024-01-25,sale,Service,1200.00,Consulting service
4,2024-01-10,expense,Office Supplies,-150.00,Office equipment purchase
5,2024-01-18,expense,Marketing,-250.00,Social media advertising
6,2024-02-05,sale,Product Sales,1200.00,Sale of premium product
7,2024-02-15,sale,Service,1000.00,Training service
8,2024-02-08,expense,Office Supplies,-200.00,Stationery purchase
"""


@pytest.fixture(scope="module")
def financial(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("financial")
    (d / "transactions.csv").write_text(TRANSACTIONS)
    e = fs.open(str(d), spark=spark)
    yield e
    e.close()


def test_financial_monthly_revenue_golden(financial):
    rows = financial.query(
        """
        SELECT strftime('%Y-%m', transaction_date) as month,
               COUNT(*) as transaction_count,
               SUM(amount) as total_revenue,
               AVG(amount) as avg_transaction,
               MAX(amount) as largest_transaction
        FROM transactions WHERE type = 'sale'
        GROUP BY month ORDER BY month
        """
    ).collect()
    got = [
        (r.month, r.transaction_count, r.total_revenue,
         round(r.avg_transaction, 2), r.largest_transaction)
        for r in rows
    ]
    assert got == [
        ("2024-01", 3, 3550.0, 1183.33, 1500.0),
        ("2024-02", 2, 2200.0, 1100.0, 1200.0),
    ]


def test_financial_expense_categories_golden(financial):
    rows = financial.query(
        """
        SELECT category, COUNT(*) as transaction_count,
               SUM(ABS(amount)) as total_expense,
               ROUND(SUM(ABS(amount)) * 100.0 / (
                   SELECT SUM(ABS(amount)) FROM transactions
                   WHERE type = 'expense'
               ), 2) as percentage
        FROM transactions WHERE type = 'expense'
        GROUP BY category ORDER BY total_expense DESC
        """
    ).collect()
    assert [
        (r.category, r.transaction_count, r.total_expense, r.percentage)
        for r in rows
    ] == [("Office Supplies", 2, 350.0, 58.33), ("Marketing", 1, 250.0, 41.67)]


def test_financial_cash_flow_golden(financial):
    r = financial.query(
        """
        SELECT SUM(CASE WHEN type = 'sale' THEN amount ELSE 0 END) as total_income,
               SUM(CASE WHEN type = 'expense' THEN ABS(amount) ELSE 0 END) as total_expenses,
               SUM(CASE WHEN type = 'sale' THEN amount ELSE -ABS(amount) END) as net_income
        FROM transactions
        """
    ).collect()[0]
    assert (r.total_income, r.total_expenses, r.net_income) == (5750.0, 600.0, 5150.0)
    assert round(r.net_income / r.total_income * 100, 2) == 89.57


# ------------------------------------------------------------------
# ExampleOpen_compressionSupport (example_test.go:893-989) — ported with
# REAL gz compression (the reference fixture ships plain CSVs and notes
# the library "would handle" codecs; this engine demonstrates it).
# ------------------------------------------------------------------

LOGS = """timestamp,level,message,user_id
2024-01-01 10:00:00,INFO,User login,1001
2024-01-01 11:30:00,INFO,Order created,1002
2024-01-01 12:15:00,ERROR,Payment failed,1003
2024-01-01 13:45:00,INFO,User logout,1001
2024-01-01 14:00:00,INFO,System backup completed,0
"""

PRODUCTS = """id,name,category,price,in_stock
1,Laptop Pro,Electronics,1299.99,true
2,Office Chair,Furniture,299.99,true
3,Wireless Mouse,Electronics,49.99,false
"""


def test_compression_support_golden(spark, tmp_path):
    import gzip

    with gzip.open(tmp_path / "logs.csv.gz", "wt") as f:
        f.write(LOGS)
    (tmp_path / "products.csv").write_text(PRODUCTS)
    with fs.open(str(tmp_path), spark=spark) as eng:
        tables = eng.query(
            "SELECT name, sql FROM sqlite_master WHERE type='table' ORDER BY name"
        ).collect()
        counts = {
            r.name: eng.query(f"SELECT COUNT(*) AS n FROM {r.name}").collect()[0].n
            for r in tables
        }
        assert counts == {"logs": 5, "products": 3}
        rows = eng.query(
            """
            SELECT 'logs' as source_table, COUNT(*) as total_records,
                   MIN(timestamp) as earliest, MAX(timestamp) as latest
            FROM logs
            UNION ALL
            SELECT 'products' as source_table, COUNT(*) as total_records,
                   'N/A' as earliest, 'N/A' as latest
            FROM products
            ORDER BY source_table
            """
        ).collect()
        assert [tuple(r) for r in rows] == [
            ("logs", 5, "2024-01-01 10:00:00", "2024-01-01 14:00:00"),
            ("products", 3, "N/A", "N/A"),
        ]


# ------------------------------------------------------------------
# ExampleOpen_performanceOptimization (example_test.go:611-723):
# pagination, filtered scan, and summary stats with the // Output: goldens.
# ------------------------------------------------------------------

CUSTOMER_SUMMARY = """customer_id,name,email,registration_date,total_orders,total_spent
1001,Premium Customer A,premium.a@example.com,2023-01-15,15,1500.00
1002,Premium Customer B,premium.b@example.com,2023-02-20,12,1200.00
1003,Premium Customer C,premium.c@example.com,2023-03-10,10,1000.00
1004,Regular Customer D,regular.d@example.com,2023-04-05,8,800.00
1005,Regular Customer E,regular.e@example.com,2023-05-15,6,600.00
1006,Regular Customer F,regular.f@example.com,2023-06-20,5,500.00
1007,Budget Customer G,budget.g@example.com,2023-07-10,3,300.00
1008,Budget Customer H,budget.h@example.com,2023-08-25,2,200.00
1009,New Customer I,new.i@example.com,2023-09-30,1,100.00
1010,New Customer J,new.j@example.com,2023-10-15,1,100.00
"""


@pytest.fixture(scope="module")
def perf_eng(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("perfopt")
    (d / "customer_summary.csv").write_text(CUSTOMER_SUMMARY)
    e = fs.open(str(d), spark=spark)
    yield e
    e.close()


def test_perfopt_pagination_golden(perf_eng):
    pages = []
    for offset in (0, 3):
        rows = perf_eng.query(
            f"""
            SELECT customer_id, name, total_orders
            FROM customer_summary
            ORDER BY total_orders DESC
            LIMIT 3 OFFSET {offset}
            """
        ).collect()
        pages.append([(r.name, r.customer_id, r.total_orders) for r in rows])
    assert pages[0] == [
        ("Premium Customer A", 1001, 15),
        ("Premium Customer B", 1002, 12),
        ("Premium Customer C", 1003, 10),
    ]
    assert pages[1] == [
        ("Regular Customer D", 1004, 8),
        ("Regular Customer E", 1005, 6),
        ("Regular Customer F", 1006, 5),
    ]


def test_perfopt_filtered_scan_golden(perf_eng):
    rows = perf_eng.query(
        """
        SELECT name, email, registration_date
        FROM customer_summary
        WHERE total_spent > 1000
        ORDER BY total_spent DESC
        """
    ).collect()
    assert [(r.name, r.email, r.registration_date) for r in rows] == [
        ("Premium Customer A", "premium.a@example.com", "2023-01-15"),
        ("Premium Customer B", "premium.b@example.com", "2023-02-20"),
    ]


def test_perfopt_summary_stats_golden(perf_eng):
    (r,) = perf_eng.query(
        """
        SELECT COUNT(*) as total_customers,
               AVG(total_orders) as avg_orders,
               SUM(total_spent) as total_revenue,
               AVG(total_spent) as avg_spent
        FROM customer_summary
        """
    ).collect()
    assert r.total_customers == 10
    assert round(r.avg_orders, 1) == 6.3
    assert (round(r.total_revenue, 2), round(r.avg_spent, 2)) == (6300.0, 630.0)


# ------------------------------------------------------------------
# ExampleOpen_advancedSQL (example_test.go:726-891), verbatim on its
# employees/departments fixture with the // Output: values as goldens.
# ------------------------------------------------------------------

EMPLOYEES = """id,name,department_id,salary,hire_date
1,Alice Johnson,1,95000,2023-01-15
2,Bob Smith,2,85000,2023-02-20
3,Charlie Brown,1,80000,2023-03-10
4,David Wilson,1,75000,2023-04-05
5,Eve Davis,2,65000,2023-05-15
6,Frank Miller,3,70000,2023-06-01
"""

DEPARTMENTS_ADV = """id,name,budget
1,Engineering,500000
2,Sales,300000
3,Marketing,200000
4,HR,150000
"""


@pytest.fixture(scope="module")
def adv_eng(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("advanced")
    (d / "employees.csv").write_text(EMPLOYEES)
    (d / "departments.csv").write_text(DEPARTMENTS_ADV)
    e = fs.open(str(d), spark=spark)
    yield e
    e.close()


def test_advanced_window_rankings_golden(adv_eng):
    rows = adv_eng.query(
        """
        SELECT e.name, d.name as department, e.salary,
               RANK() OVER (PARTITION BY e.department_id
                            ORDER BY e.salary DESC) as salary_rank,
               ROW_NUMBER() OVER (ORDER BY e.salary DESC) as overall_rank
        FROM employees e
        JOIN departments d ON e.department_id = d.id
        ORDER BY e.department_id, salary_rank
        """
    ).collect()
    assert [
        (r.name, r.department, r.salary, r.salary_rank, r.overall_rank)
        for r in rows
    ] == [
        ("Alice Johnson", "Engineering", 95000, 1, 1),
        ("Charlie Brown", "Engineering", 80000, 2, 3),
        ("David Wilson", "Engineering", 75000, 3, 4),
        ("Bob Smith", "Sales", 85000, 1, 2),
        ("Eve Davis", "Sales", 65000, 2, 6),
        ("Frank Miller", "Marketing", 70000, 1, 5),
    ]


def test_advanced_cte_dept_analysis_golden(adv_eng):
    rows = adv_eng.query(
        """
        WITH dept_stats AS (
            SELECT d.name as department, COUNT(e.id) as employee_count,
                   AVG(e.salary) as avg_salary, MAX(e.salary) as max_salary,
                   MIN(e.salary) as min_salary
            FROM departments d
            LEFT JOIN employees e ON d.id = e.department_id
            GROUP BY d.id, d.name
        ),
        company_avg AS (SELECT AVG(salary) as company_avg_salary FROM employees)
        SELECT ds.department, ds.employee_count, ds.avg_salary,
               ca.company_avg_salary,
               ds.avg_salary - ca.company_avg_salary as salary_diff,
               CASE WHEN ds.avg_salary > ca.company_avg_salary THEN 'Above Average'
                    WHEN ds.avg_salary < ca.company_avg_salary THEN 'Below Average'
                    ELSE 'At Average' END as comparison
        FROM dept_stats ds CROSS JOIN company_avg ca
        WHERE ds.employee_count > 0
        ORDER BY ds.avg_salary DESC
        """
    ).collect()
    got = [
        (r.department, r.employee_count, round(r.avg_salary),
         round(r.company_avg_salary), round(r.salary_diff), r.comparison)
        for r in rows
    ]
    assert got == [
        ("Engineering", 3, 83333, 78333, 5000, "Above Average"),
        ("Sales", 2, 75000, 78333, -3333, "Below Average"),
        ("Marketing", 1, 70000, 78333, -8333, "Below Average"),
    ]


def test_advanced_text_functions_golden(adv_eng):
    rows = adv_eng.query(
        """
        SELECT name, LENGTH(name) as name_length,
               UPPER(SUBSTR(name, 1, 1)) || LOWER(SUBSTR(name, 2)) as formatted_name,
               INSTR(name, ' ') as space_position,
               CASE WHEN INSTR(name, ' ') > 0
                    THEN SUBSTR(name, 1, INSTR(name, ' ') - 1)
                    ELSE name END as first_name
        FROM employees
        WHERE LENGTH(name) > 8
        ORDER BY name_length DESC
        """
    ).collect()
    got = [
        (r.name, r.name_length, r.formatted_name, r.space_position, r.first_name)
        for r in rows
    ]
    # name_length ties have no defined order; compare each length group
    # as a set (the reference's printed order is SQLite's arbitrary one)
    assert set(got[:2]) == {
        ("Alice Johnson", 13, "Alice johnson", 6, "Alice"),
        ("Charlie Brown", 13, "Charlie brown", 8, "Charlie"),
    }
    assert set(got[2:4]) == {
        ("David Wilson", 12, "David wilson", 6, "David"),
        ("Frank Miller", 12, "Frank miller", 6, "Frank"),
    }
    assert set(got[4:]) == {
        ("Bob Smith", 9, "Bob smith", 4, "Bob"),
        ("Eve Davis", 9, "Eve davis", 4, "Eve"),
    }


# ------------------------------------------------------------------
# ExampleOpen_salesAnalysis (example_test.go:329-393) and
# ExampleOpen_customerInsights (example_test.go:395-464), verbatim on
# the createSalesTestData fixture (example_test.go:152-193), with the
# // Output: blocks as goldens.
# ------------------------------------------------------------------

SALES_GOLDEN = """order_id,customer_id,product_name,category,quantity,unit_price,order_date,region
1,101,Laptop Pro,Electronics,2,1299.99,2024-01-15,North
2,102,Wireless Mouse,Electronics,1,29.99,2024-01-16,South
3,103,Office Chair,Furniture,1,299.99,2024-01-17,East
4,101,USB Cable,Electronics,3,12.99,2024-01-18,North
5,104,Standing Desk,Furniture,1,599.99,2024-01-19,West
6,105,Bluetooth Speaker,Electronics,2,79.99,2024-01-20,South
7,106,Coffee Table,Furniture,1,199.99,2024-01-21,East
8,102,Keyboard,Electronics,1,89.99,2024-01-22,South
9,107,Monitor 24inch,Electronics,1,249.99,2024-01-23,North
10,103,Desk Lamp,Furniture,2,39.99,2024-01-24,East
"""

CUSTOMERS_GOLDEN = """customer_id,name,email,city,registration_date
101,John Doe,john@example.com,New York,2023-06-01
102,Jane Smith,jane@example.com,Los Angeles,2023-07-15
103,Bob Johnson,bob@example.com,Chicago,2023-08-20
104,Alice Brown,alice@example.com,Houston,2023-09-10
105,Charlie Wilson,charlie@example.com,Phoenix,2023-10-05
106,Diana Lee,diana@example.com,Philadelphia,2023-11-12
107,Frank Miller,frank@example.com,San Antonio,2023-12-03
"""


@pytest.fixture(scope="module")
def sales_eng(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("sales_golden")
    (d / "sales.csv").write_text(SALES_GOLDEN)
    (d / "customers.csv").write_text(CUSTOMERS_GOLDEN)
    e = fs.open(str(d), spark=spark)
    yield e
    e.close()


def test_sales_analysis_golden(sales_eng):
    """ExampleOpen_salesAnalysis: category/region revenue rollup; the
    Go example prints revenue/avg with %.2f — compare rounded."""
    rows = sales_eng.query(
        """
        SELECT
            category,
            region,
            COUNT(*) as order_count,
            SUM(quantity * unit_price) as total_revenue,
            AVG(quantity * unit_price) as avg_order_value,
            MIN(order_date) as first_order,
            MAX(order_date) as last_order
        FROM sales
        GROUP BY category, region
        ORDER BY total_revenue DESC
        """
    ).collect()
    got = [
        (r.category, r.region, r.order_count, round(r.total_revenue, 2),
         round(r.avg_order_value, 2), r.first_order, r.last_order)
        for r in rows
    ]
    assert got == [
        ("Electronics", "North", 3, 2888.94, 962.98, "2024-01-15", "2024-01-23"),
        ("Furniture", "West", 1, 599.99, 599.99, "2024-01-19", "2024-01-19"),
        ("Furniture", "East", 3, 579.96, 193.32, "2024-01-17", "2024-01-24"),
        ("Electronics", "South", 3, 279.96, 93.32, "2024-01-16", "2024-01-22"),
    ]


def test_customer_insights_golden(sales_eng):
    """ExampleOpen_customerInsights: LTV per multi-purchase customer.
    Exercises alias-in-HAVING (SQLite-ism) and julianday() date spans;
    the Go example scans days_active into an int."""
    rows = sales_eng.query(
        """
        SELECT
            c.name,
            c.city,
            COUNT(s.order_id) as total_orders,
            SUM(s.quantity * s.unit_price) as lifetime_value,
            AVG(s.quantity * s.unit_price) as avg_order_value,
            MIN(s.order_date) as first_purchase,
            MAX(s.order_date) as last_purchase,
            julianday(MAX(s.order_date)) - julianday(MIN(s.order_date)) as days_active,
            COUNT(DISTINCT s.category) as categories_purchased
        FROM customers c
        JOIN sales s ON c.customer_id = s.customer_id
        GROUP BY c.customer_id, c.name, c.city
        HAVING total_orders > 1
        ORDER BY lifetime_value DESC
        """
    ).collect()
    got = [
        (r.name, r.city, r.total_orders, round(r.lifetime_value, 2),
         round(r.avg_order_value, 2), r.first_purchase, r.last_purchase,
         int(r.days_active), r.categories_purchased)
        for r in rows
    ]
    # avg 1319.475 / 189.985 / 59.99: the Go example prints %.2f of the
    # same float64, i.e. 1319.47 / 189.99 / 59.99 — assert the unrounded
    # halves explicitly to avoid banker's-rounding ambiguity
    assert got == [
        ("John Doe", "New York", 2, 2638.95, round(1319.475, 2),
         "2024-01-15", "2024-01-18", 3, 1),
        ("Bob Johnson", "Chicago", 2, 379.97, round(189.985, 2),
         "2024-01-17", "2024-01-24", 7, 1),
        ("Jane Smith", "Los Angeles", 2, 119.98, round(59.99, 2),
         "2024-01-16", "2024-01-22", 6, 1),
    ]


# ------------------------------------------------------------------
# ExampleDumpDatabase_dataProcessing (example_test.go:1573-1655),
# verbatim: SQL-process a CSV (UPDATE + INSERT..SELECT with || concat
# of an aggregate), then export TSV / gzip-CSV / LTSV; the // Output:
# block pins the produced filenames.
# ------------------------------------------------------------------

SAMPLE_CSV = """id,name,age,email
1,John Doe,30,john@example.com
2,Jane Smith,25,jane@example.com
3,Bob Johnson,35,bob@example.com
"""


def test_dump_data_processing_golden(spark, tmp_path):
    src = tmp_path / "sample.csv"
    src.write_text(SAMPLE_CSV)
    e = fs.open(str(src), spark=spark)
    try:
        e.execute("UPDATE sample SET age = age + 1 WHERE name LIKE '%John%'")
        e.execute(
            """
            INSERT INTO sample (id, name, age, email)
            SELECT 999, 'Summary: ' || COUNT(*), AVG(age), 'summary@example.com'
            FROM sample WHERE id < 999
            """
        )
        for sub, kwargs, fname in [
            ("for_spreadsheet", {"format": "tsv"}, "sample.tsv"),
            ("for_archive", {"format": "csv", "compression": "gz"}, "sample.csv.gz"),
            ("for_logs", {"format": "ltsv"}, "sample.ltsv"),
        ]:
            d = tmp_path / sub
            e.dump(str(d), **kwargs)
            import os
            assert sorted(os.listdir(d)) == [fname], (sub, os.listdir(d))
        # processed values: both Johns aged +1, summary row appended
        rows = e.query(
            "SELECT id, name, age FROM sample ORDER BY id"
        ).collect()
        got = [(r.id, r.name, int(r.age)) for r in rows]
        assert got == [
            (1, "John Doe", 31),
            (2, "Jane Smith", 25),
            (3, "Bob Johnson", 36),
            (999, "Summary: 3", 30),  # AVG(31,25,36) = 30.67 -> CSV int col coerces
        ]
    finally:
        e.close()


def test_multiple_sequential_queries_params(eng):
    """TestMultipleSequentialQueries (filesql_integration_test.go:741-805)
    shape on the company fixture: aggregate → per-key parameterized
    follow-ups (`WHERE id = ?` database/sql binding), totals re-verified."""
    high = {
        r.user_id: r.total
        for r in eng.query(
            """
            SELECT user_id, SUM(amount) as total FROM orders
            GROUP BY user_id HAVING SUM(amount) > ?
            """,
            [150],
        ).collect()
    }
    assert high  # John (200.75), Bob (200.0), Carol (350.75)
    for uid, total in high.items():
        u = eng.query("SELECT name, email FROM user WHERE id = ?", [uid]).collect()
        assert len(u) == 1 and u[0].name
        v = eng.query(
            "SELECT SUM(amount) AS s FROM orders WHERE user_id = ?", [uid]
        ).collect()
        assert abs(v[0].s - total) < 0.01
    assert set(high) == {1, 2, 3}


# ------------------------------------------------------------------
# ExampleDumpDatabase (example_test.go:533-610), verbatim on the
# createTempTestData employees fixture (example_test.go:115-135):
# modify in memory → dump → reopen the exported file → count.
# ------------------------------------------------------------------

EMPLOYEES_TMP = """id,name,department_id,salary,hire_date
1,Alice Johnson,1,95000,2020-01-15
2,Bob Smith,1,85000,2019-03-22
3,Charlie Brown,1,80000,2021-06-10
4,David Wilson,1,75000,2022-02-28
5,Eve Davis,2,70000,2020-09-15
6,Frank Miller,2,65000,2021-11-30
7,Grace Lee,3,60000,2019-12-05
8,Henry Taylor,3,55000,2022-04-18
"""


def test_dump_database_roundtrip_golden(spark, tmp_path):
    src = tmp_path / "employees.csv"
    src.write_text(EMPLOYEES_TMP)
    e = fs.open(str(src), spark=spark)
    try:
        e.execute("UPDATE employees SET salary = salary * 1.10 WHERE department_id = 1")
        e.execute(
            "INSERT INTO employees (id, name, department_id, salary, hire_date) "
            "VALUES (99, 'New Employee', 2, 60000, '2024-01-01')"
        )
        out = tmp_path / "output"
        e.dump(str(out))
        assert (out / "employees.csv").exists()
    finally:
        e.close()
    # reopen the exported file — the // Output: block pins 9 employees
    e2 = fs.open(str(out / "employees.csv"), spark=spark)
    try:
        assert e2.query("SELECT COUNT(*) AS n FROM employees").collect()[0].n == 9
        # the raise survived the round trip
        r = e2.query(
            "SELECT CAST(salary AS INTEGER) AS s FROM employees WHERE id = 1"
        ).collect()[0]
        assert r.s == 104500  # 95000 * 1.10
    finally:
        e2.close()


def test_constraints_file_unchanged_golden(spark, tmp_path):
    """ExampleOpen_constraints (example_test.go:276-327): INSERT affects
    only the in-memory table; the source file is untouched until an
    explicit dump (8 → 9 in memory, still 8 on re-open)."""
    src = tmp_path / "employees.csv"
    src.write_text(EMPLOYEES_TMP)
    e = fs.open(str(src), spark=spark)
    try:
        assert e.query("SELECT COUNT(*) AS n FROM employees").collect()[0].n == 8
        e.execute(
            "INSERT INTO employees (id, name, department_id, salary, hire_date) "
            "VALUES (99, 'Test User', 1, 50000, '2023-01-01')"
        )
        assert e.query("SELECT COUNT(*) AS n FROM employees").collect()[0].n == 9
    finally:
        e.close()
    e2 = fs.open(str(src), spark=spark)
    try:
        assert e2.query("SELECT COUNT(*) AS n FROM employees").collect()[0].n == 8
    finally:
        e2.close()


def test_dump_multiple_formats_golden(spark, tmp_path):
    """ExampleDumpDatabase_withOptions + _multipleFormats
    (example_test.go:1399-1540): the produced filename is
    {table}.{format}[.{compression}] for every codec. bz2 write is
    rejected by design (A6 — SURVEY §2.A), asserted instead."""
    src = tmp_path / "sample.csv"
    src.write_text(SAMPLE_CSV)
    e = fs.open(str(src), spark=spark)
    try:
        e.execute(
            "INSERT INTO sample (id, name, age, email) "
            "VALUES (4, 'Alice Brown', 28, 'alice@example.com')"
        )
        import os
        cases = [
            ({"format": "csv"}, "sample.csv"),
            ({"format": "tsv", "compression": "gz"}, "sample.tsv.gz"),
            ({"format": "ltsv", "compression": "zst"}, "sample.ltsv.zst"),
            ({"format": "csv", "compression": "xz"}, "sample.csv.xz"),
            ({"format": "csv", "compression": "zst"}, "sample.csv.zst"),
        ]
        for i, (kwargs, fname) in enumerate(cases):
            d = tmp_path / f"out{i}"
            e.dump(str(d), **kwargs)
            assert sorted(os.listdir(d)) == [fname], (kwargs, os.listdir(d))
        with pytest.raises(Exception, match="bzip2"):
            e.dump(str(tmp_path / "outbz2"), format="csv", compression="bz2")
    finally:
        e.close()


def test_error_handling_golden(spark, tmp_path):
    """ExampleOpen_errorHandling (example_test.go:466-531): a
    non-existent path fails with the reference's wording ('path does
    not exist: …'); a good path then counts 8 employees. (The context
    timeout leg is a Go-ism with no Python analogue — SURVEY §3.1.)"""
    from filesql_spark.errors import ValidationError

    with pytest.raises(ValidationError, match="path does not exist: nonexistent.csv"):
        fs.open("nonexistent.csv", spark=spark)
    src = tmp_path / "employees.csv"
    src.write_text(EMPLOYEES_TMP)
    e = fs.open(str(src), spark=spark)
    try:
        assert e.query("SELECT COUNT(*) AS n FROM employees").collect()[0].n == 8
    finally:
        e.close()


def test_add_reader_golden(spark):
    """ExampleDBBuilder_AddReader + _AddReader_compressed
    (example_test.go:2130-2222) verbatim: io.Reader CSV/TSV inputs with
    explicit table name and type, // Output: values as goldens."""
    csv_data = (
        b"id,name,department,salary\n"
        b"1,Alice,Engineering,95000\n2,Bob,Sales,78000\n"
        b"3,Charlie,Engineering,102000\n4,Diana,Marketing,85000"
    )
    e = (
        fs.Builder()
        .add_reader(csv_data, "employees", "csv")
        .open(spark=spark)
    )
    try:
        rows = e.query(
            """
            SELECT name, department, salary
            FROM employees
            WHERE salary > 80000
            ORDER BY salary DESC
            """
        ).collect()
        assert [(r.name, r.department, r.salary) for r in rows] == [
            ("Charlie", "Engineering", 102000),
            ("Alice", "Engineering", 95000),
            ("Diana", "Marketing", 85000),
        ]
    finally:
        e.close()

    tsv = b"product_id\tproduct_name\tprice\n1\tLaptop\t999\n2\tMouse\t25\n3\tKeyboard\t75"
    e2 = fs.Builder().add_reader(tsv, "products", "tsv").open(spark=spark)
    try:
        n = e2.query(
            "SELECT COUNT(*) AS n FROM products WHERE price < 100"
        ).collect()[0].n
        assert n == 2
    finally:
        e2.close()


# ------------------------------------------------------------------
# ExampleOpen (example_test.go:26-112) — the reference's flagship
# front-door example: joins + window functions + correlated subqueries
# + CASE over the createTempTestData fixture, // Output: as goldens.
# ExampleOpen_multipleFiles (196-227): directory load + sqlite_master.
# ------------------------------------------------------------------

DEPARTMENTS_TMP = """id,name,budget,manager_id
1,Engineering,1000000,1
2,Marketing,800000,5
3,Sales,600000,7
4,HR,400000,9
"""


@pytest.fixture(scope="module")
def tmpdata_eng(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("tmpdata")
    (d / "employees.csv").write_text(EMPLOYEES_TMP)
    (d / "departments.csv").write_text(DEPARTMENTS_TMP)
    e = fs.open(str(d / "employees.csv"), str(d / "departments.csv"), spark=spark)
    yield e, str(d)
    e.close()


def test_example_open_flagship_golden(tmpdata_eng):
    e, _ = tmpdata_eng
    rows = e.query(
        """
        SELECT
            e.name,
            d.name as department_name,
            e.salary,
            d.budget,
            RANK() OVER (PARTITION BY e.department_id ORDER BY e.salary DESC) as salary_rank_in_dept,
            AVG(e.salary) OVER (PARTITION BY e.department_id) as dept_avg_salary,
            COUNT(*) OVER (PARTITION BY e.department_id) as dept_employee_count,
            CASE
                WHEN e.salary > (SELECT AVG(salary) FROM employees WHERE department_id = e.department_id) * 1.2
                THEN 'High Performer'
                WHEN e.salary < (SELECT AVG(salary) FROM employees WHERE department_id = e.department_id) * 0.8
                THEN 'Below Average'
                ELSE 'Average'
            END as performance_category,
            ROUND(e.salary / d.budget * 100, 2) as salary_budget_percentage
        FROM employees e
        JOIN departments d ON e.department_id = d.id
        WHERE e.salary > (
            SELECT AVG(salary) * 0.7
            FROM employees e2
            WHERE e2.department_id = e.department_id
        )
        AND d.budget > 500000
        ORDER BY d.name, e.salary DESC
        LIMIT 10
        """
    ).collect()
    got = [
        (r.name, r.department_name, int(r.salary), r.salary_rank_in_dept,
         r.dept_employee_count, r.performance_category)
        for r in rows
    ]
    assert got == [
        ("Alice Johnson", "Engineering", 95000, 1, 4, "Average"),
        ("Bob Smith", "Engineering", 85000, 2, 4, "Average"),
        ("Charlie Brown", "Engineering", 80000, 3, 4, "Average"),
        ("David Wilson", "Engineering", 75000, 4, 4, "Average"),
        ("Eve Davis", "Marketing", 70000, 1, 2, "Average"),
        ("Frank Miller", "Marketing", 65000, 2, 2, "Average"),
        ("Grace Lee", "Sales", 60000, 1, 2, "Average"),
        ("Henry Taylor", "Sales", 55000, 2, 2, "Average"),
    ]


def test_example_multiple_files_golden(spark, tmpdata_eng):
    _, d = tmpdata_eng
    e = fs.open(d, spark=spark)  # directory load
    try:
        rows = e.query(
            "SELECT name FROM sqlite_master WHERE type='table' ORDER BY name"
        ).collect()
        assert [r.name for r in rows] == ["departments", "employees"]
    finally:
        e.close()


def test_data_integrity_validation(eng):
    """TestDataIntegrityValidation (filesql_integration_test.go:1013-1078)
    shape on the company fixture: NOT EXISTS orphan checks across the
    FK-linked tables, plus the users↔salaries cardinality invariant."""
    orphan_checks = [
        ("""SELECT COUNT(*) AS n FROM user u
            WHERE u.department_id IS NOT NULL
            AND NOT EXISTS (SELECT 1 FROM department d WHERE d.id = u.department_id)""",
         "user.department_id"),
        ("""SELECT COUNT(*) AS n FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM user u WHERE u.id = o.user_id)""",
         "orders.user_id"),
        ("""SELECT COUNT(*) AS n FROM salary s
            WHERE NOT EXISTS (SELECT 1 FROM user u WHERE u.id = s.user_id)""",
         "salary.user_id"),
    ]
    for sql, what in orphan_checks:
        assert eng.query(sql).collect()[0].n == 0, f"orphaned {what}"
    users = eng.query("SELECT COUNT(*) AS n FROM user").collect()[0].n
    salaries = eng.query("SELECT COUNT(*) AS n FROM salary").collect()[0].n
    assert users == salaries == 7
