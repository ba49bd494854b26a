INSERT INTO {table} VALUES (?, ?, ?);
