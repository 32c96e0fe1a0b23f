select user_id, n_events, n_purchases, total_value, last_event
from {{ stats }}
order by total_value desc, user_id asc
limit 10
