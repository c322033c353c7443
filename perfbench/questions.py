"""Seeded natural-language questions for the served path.

Every template names the planner branch it must route to: the employee
templates hit the reference cascade (``plans.planner.plan``) over the
synthesized ``employees`` view, the star templates hit the SQL branches of
``plans.star_planner.plan_star``. Operator-routed star branches are left
out: they are measured by the ``ops`` workload.

Surface phrasing (a polite prefix and suffix) and parameters (department,
salary threshold, top-k, initial letter, ...) come from the seed. Fillers
avoid every planner keyword, so they never change a question's branch.
"""

from __future__ import annotations

import random

DEPARTMENTS = ["IT", "HR", "Sales", "Marketing", "Finance", "Engineering", "Operations"]
DOMAINS = ["Gmail", "Yahoo", "Outlook", "company"]

PREFIXES = ["", "Please:", "Quick question:", "Could you tell me:", "Kindly:",
            "Hey,", "Help me out:", "For the board deck:", "Team asks:",
            "Be so kind:", "I am curious:", "Just checking:", "Before lunch:",
            "On a side note:", "Sorry to bug you:", "Friendly ping:"]
SUFFIXES = ["", "please", "thanks", "asap", "for the weekly sync", "if possible",
            "right away", "for my manager", "cheers", "much appreciated",
            "by Friday", "for the slide deck", "when you can", "no rush",
            "today", "for the memo"]

#: (branch, [phrasings]); ``{dept}``, ``{amount}``, ``{k}``, ``{letter}``,
#: ``{domain}`` are filled from the seed.
EMPLOYEE_TEMPLATES = [
    ("count_department_match", [
        "How many employees are in the {dept} department",
        "Number of employees in the {dept} department",
        "Count employees of the {dept} department"]),
    ("count_by_department", [
        "Count of employees in each department",
        "How many employees per department",
        "Number of employees by department"]),
    ("count_total", [
        "How many employees are there",
        "Total number of employees",
        "Count the employees"]),
    ("list_all", [
        "Show me all employees in the company",
        "List employees of the company",
        "Show employees on file"]),
    ("department_match", [
        "Find employees in the {dept} department",
        "Staff of the {dept} department",
        "Who is in the {dept} department"]),
    ("salary_threshold", [
        "Show me employees with salary greater than {amount}",
        "Employees earning more than {amount}",
        "Which employees have a salary above {amount}"]),
    ("joined_last_year", [
        "Which employees joined last year",
        "Employees hired in 2023",
        "Who joined the company last year"]),
    ("joined_this_year", [
        "Which employees joined this year",
        "Employees hired in 2024",
        "Who joined the company this year"]),
    ("name_search", [
        "Employees whose name starts {letter}",
        "Employees with a name like {letter}",
        "Employees whose name ends {letter}"]),
    ("email_search", [
        "Find employees with {domain} email addresses",
        "Employees and their email, {domain} mostly",
        "Which employees have an email on {domain}"]),
    ("position_search", [
        "What is the job title of each employee",
        "Employees and their position",
        "Which role does each employee have"]),
    ("default_names", [
        "Show me the highest paid employees",
        "Employees sorted by name",
        "Some employees to look at"]),
]

STAR_TEMPLATES = [
    ("revenue_by_region", [
        "What is the total revenue by region",
        "Turnover for each region",
        "Sales volume per region"]),
    ("revenue_by_nation", [
        "Revenue by nation",
        "What is the turnover per country",
        "Total revenue for every nation"]),
    ("revenue_by_segment", [
        "Revenue by market segment",
        "Turnover per segment",
        "Sales volume for each market segment"]),
    ("top_customers", [
        "Top {k} customers by spending",
        "Show the best {k} customers",
        "Who are our biggest {k} customers"]),
    ("orders_by_year", [
        "How many orders per year",
        "Order volume by year",
        "Orders placed each year"]),
    ("avg_order_value", [
        "What is the average order value",
        "Average value of an order",
        "Avg order size"]),
    ("avg_order_value_by_segment", [
        "Average order value by market segment",
        "Avg order value per segment",
        "Average order size for each market segment"]),
    ("count_orders", [
        "How many orders are there",
        "Number of orders in the system",
        "Count the orders"]),
    ("count_customer", [
        "How many customers are there",
        "Number of customers on record",
        "Count the customers"]),
    ("count_supplier", [
        "How many suppliers are there",
        "Number of suppliers we have",
        "Count the suppliers"]),
    ("count_part", [
        "How many parts are there",
        "Number of parts in the catalog",
        "Count the parts"]),
    ("count_lineitem", [
        "How many line items are there",
        "Number of line items",
        "Count the line items"]),
    ("docs_quality_floor_by_lang", [
        "How many documents pass the quality bar per language",
        "Document quality by language",
        "Quality of documents for each language"]),
    ("docs_quality_floor_by_source", [
        "How many documents pass the quality bar",
        "Document quality per source",
        "Quality of documents for each source"]),
    ("docs_duplicates_by_source", [
        "How many duplicate documents are there",
        "Duplicate documents per source",
        "Count duplicate documents for each source"]),
    ("docs_avg_tokens_by_source", [
        "Average token count of documents",
        "Average length of documents per source",
        "How long are documents on average in tokens"]),
    ("docs_by_language", [
        "Documents per language",
        "Documents by language",
        "Show documents for each language"]),
    ("longest_documents", [
        "Show the {k} longest documents",
        "Longest {k} documents",
        "The {k} largest documents"]),
    ("count_documents", [
        "How many documents are there",
        "Number of documents in the corpus",
        "Count the documents"]),
    ("events_by_hour", [
        "Events per hour",
        "Hourly activity of events",
        "Event volume by hour"]),
    ("events_by_type", [
        "Events by type",
        "Event breakdown",
        "Events for each type"]),
    ("most_active_users", [
        "Top {k} most active users",
        "Most active {k} users by events",
        "Which {k} users are the most active"]),
    ("customers_without_orders", [
        "Which customers have no orders",
        "Customers without orders",
        "Customers that never ordered"]),
]

TEMPLATES = EMPLOYEE_TEMPLATES + STAR_TEMPLATES
EMPLOYEE_BRANCHES = frozenset(b for b, _ in EMPLOYEE_TEMPLATES)


def _fill(rng: random.Random, phrasing: str) -> str:
    return phrasing.format(
        dept=rng.choice(DEPARTMENTS),
        amount=rng.randrange(30_000, 150_001, 500),
        k=rng.randrange(3, 51),
        letter=rng.choice("ABCDEFGHJKLMNOPRSTVWY"),
        domain=rng.choice(DOMAINS),
    )


def question(rng: random.Random, phrasings: list[str]) -> str:
    parts = [rng.choice(PREFIXES), _fill(rng, rng.choice(phrasings)), rng.choice(SUFFIXES)]
    return " ".join(p for p in parts if p) + "?"


def cold_stream(seed: int):
    """Endless stream of ``(branch, question)`` with no repeated text.

    Each round visits every template once in a seeded order, so every
    stretch of ``len(TEMPLATES)`` requests has the same branch mix.
    """
    rng = random.Random(seed)
    seen: set[str] = set()
    while True:
        order = list(TEMPLATES)
        rng.shuffle(order)
        for branch, phrasings in order:
            for _ in range(1000):
                q = question(rng, phrasings)
                if q not in seen:
                    break
            else:
                raise RuntimeError(f"question space of {branch} exhausted")
            seen.add(q)
            yield branch, q
